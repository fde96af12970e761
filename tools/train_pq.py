#!/usr/bin/env python3
"""Offline PQ codebook training — the index-build step of the
product-quantization ANN path (same train/search split as
tools/train_ivf.py; FAISS IndexPQ trains its codebooks once the same way).

Commits the m×k×(d/m) codebook tensor to
`transcription_lakehouse_spark/workload/_pq_codebooks.py`; the
`vec_knn_pq` Spark query and its DuckDB twin read the SAME literals, and
tests pin that `train_pq_codebooks` reproduces the artifact exactly.

Usage: python tools/train_pq.py [sf_dir]   (default /root/testdata/sf0.01)
"""
from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

M_SUBVECTORS = 8
K_CODES = 16


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from transcription_lakehouse_spark.operators.pq import train_pq_codebooks
    from transcription_lakehouse_spark.session import get_spark

    spark = get_spark(app_name="train-pq")
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    books = train_pq_codebooks(
        emb, "vec_id", "embedding", m=M_SUBVECTORS, k=K_CODES
    )
    out = os.path.join(
        REPO, "transcription_lakehouse_spark", "workload", "_pq_codebooks.py"
    )
    with open(out, "w") as f:
        f.write(
            '"""PQ codebooks trained offline by tools/train_pq.py — do not\n'
            "hand-edit. repr() round-trips doubles exactly, so the Spark UDFs "
            'and the\nDuckDB SQL literals parse to bit-identical float64 '
            'values."""\n\n'
            f"TRAINED_ON = {os.path.basename(sf_dir)!r}\n"
            f"M_SUBVECTORS = {M_SUBVECTORS}\n"
            f"K_CODES = {K_CODES}\n"
            "CODEBOOKS = [\n"
        )
        for book in books:
            f.write("    [\n")
            for c in book:
                f.write("        [" + ", ".join(repr(x) for x in c) + "],\n")
            f.write("    ],\n")
        f.write("]\n")
    print(f"wrote {out}: {len(books)} x {len(books[0])} x {len(books[0][0])}")
    spark.stop()


if __name__ == "__main__":
    main()
