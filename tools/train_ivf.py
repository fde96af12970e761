#!/usr/bin/env python3
"""Offline IVF coarse-quantizer training — the build-time step of the
trained ANN path (FAISS trains its quantizer once at index-build time and
reuses it for every search; reference
`/root/reference/src/lakehouse/indexing/faiss_builder.py:30-147` does the
same with HNSW construction).

Runs `operators.similarity.train_centroids` (deterministic: hash-ordered
bounded sample, farthest-point seeding, fixed Lloyd iterations — no RNG)
over the testdata embeddings and commits the resulting centroid matrix to
`transcription_lakehouse_spark/workload/_ivf_quantizer.py`. Both the
`vec_knn_ivf` Spark query and its DuckDB oracle twin read the SAME literal
matrix, so the trained search path is value-hash gated end-to-end;
training determinism itself is pinned by
tests/test_operators.py::test_train_centroids_reproduces_committed_quantizer.

Usage: python tools/train_ivf.py [sf_dir]   (default /root/testdata/sf0.01)
"""
from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_CELLS = 16


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from transcription_lakehouse_spark.operators.similarity import train_centroids
    from transcription_lakehouse_spark.session import get_spark

    spark = get_spark(app_name="train-ivf")
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cents = train_centroids(emb, "vec_id", "embedding", n_cells=N_CELLS)
    out = os.path.join(
        REPO, "transcription_lakehouse_spark", "workload", "_ivf_quantizer.py"
    )
    with open(out, "w") as f:
        f.write(
            '"""IVF coarse quantizer trained offline by tools/train_ivf.py — '
            "do not\nhand-edit. repr() round-trips doubles exactly, so the "
            "Spark UDF and the\nDuckDB SQL literal parse to bit-identical "
            'float64 values."""\n\n'
            f"TRAINED_ON = {os.path.basename(sf_dir)!r}\n"
            f"N_CELLS = {N_CELLS}\n"
            "CENTROIDS = [\n"
        )
        for c in cents:
            f.write("    [" + ", ".join(repr(x) for x in c) + "],\n")
        f.write("]\n")
    print(f"wrote {out}: {len(cents)} centroids x {len(cents[0])} dims")
    spark.stop()


if __name__ == "__main__":
    main()
