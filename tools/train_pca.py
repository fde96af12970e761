#!/usr/bin/env python3
"""Offline PCA basis training — the pre-transform step of the vector
pipeline (same train/apply split as tools/train_ivf.py / train_pq.py;
FAISS's PCAMatrix is trained once the same way).

Commits mean + top-K eigenvectors + the full eigenvalue spectrum to
`transcription_lakehouse_spark/workload/_pca_basis.py`; the `vec_pca_*`
Spark queries and their DuckDB twins read the SAME literals, and tests pin
that `train_pca` reproduces the artifact exactly.

Usage: python tools/train_pca.py [sf_dir]   (default /root/testdata/sf0.01)
"""
from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_COMPONENTS = 8


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from transcription_lakehouse_spark.operators.pca import train_pca
    from transcription_lakehouse_spark.session import get_spark

    spark = get_spark(app_name="train-pca")
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    mean, comps, eigs = train_pca(
        emb, "vec_id", "embedding", n_components=N_COMPONENTS
    )
    out = os.path.join(
        REPO, "transcription_lakehouse_spark", "workload", "_pca_basis.py"
    )
    with open(out, "w") as f:
        f.write(
            '"""PCA basis trained offline by tools/train_pca.py — do not\n'
            "hand-edit. repr() round-trips doubles exactly, so the Spark "
            "expressions and\nthe DuckDB SQL literals parse to bit-identical "
            'float64 values."""\n\n'
            f"TRAINED_ON = {os.path.basename(sf_dir)!r}\n"
            f"N_COMPONENTS = {N_COMPONENTS}\n"
            "MEAN = [" + ", ".join(repr(x) for x in mean) + "]\n"
            "COMPONENTS = [\n"
        )
        for c in comps:
            f.write("    [" + ", ".join(repr(x) for x in c) + "],\n")
        f.write(
            "]\nEIGENVALUES = ["
            + ", ".join(repr(x) for x in eigs)
            + "]\n"
        )
    print(f"wrote {out}: {len(comps)} components over d={len(mean)}")
    spark.stop()


if __name__ == "__main__":
    main()
