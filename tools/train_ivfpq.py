#!/usr/bin/env python3
"""Offline IVF-PQ training — residual codebooks for the composed index
(Jégou et al. 2011 §IV: PQ is trained on the RESIDUAL v − centroid(cell),
which is much lower-variance than raw vectors; FAISS IndexIVFPQ does the
same at build time). Reuses the committed coarse quantizer
(workload/_ivf_quantizer.py); commits the result to
`transcription_lakehouse_spark/workload/_ivfpq_codebooks.py`. Determinism
is pinned by tests against `operators.pq.train_ivfpq_codebooks`.

Usage: python tools/train_ivfpq.py [sf_dir]   (default /root/testdata/sf0.01)
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
    from transcription_lakehouse_spark.operators.pq import train_ivfpq_codebooks
    from transcription_lakehouse_spark.session import get_spark
    from transcription_lakehouse_spark.workload._ivf_quantizer import CENTROIDS

    spark = get_spark(app_name="train-ivfpq")
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    books = train_ivfpq_codebooks(
        emb, "vec_id", "embedding", CENTROIDS, m=M_SUBVECTORS, k=K_CODES
    )
    out = os.path.join(
        REPO, "transcription_lakehouse_spark", "workload", "_ivfpq_codebooks.py"
    )
    with open(out, "w") as f:
        f.write(
            '"""IVF-PQ residual codebooks trained offline by '
            "tools/train_ivfpq.py — do\nnot hand-edit. Trained on residuals "
            "v - centroid(cell) against the committed\ncoarse quantizer "
            '(_ivf_quantizer.py). repr() round-trips doubles exactly."""\n\n'
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
