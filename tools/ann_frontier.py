"""ANN recall-vs-wall frontier: recall@5 vs brute force for every ANN
variant (banded LSH, IVF at several nprobe, PQ, IVFPQ) on the REAL
unreplicated embeddings corpus — the data-driven input for choosing an
index at scale, paired with the 20x walls bench.py already records
(knn_*_20x entries in BENCH_r{N}.json).

Recall is measured on the UNREPLICATED corpus on purpose: the 20x bench
fixture replicates vectors verbatim, so its ground-truth top-k is mostly
exact duplicates that any bucketing scheme trivially co-locates — recall
there reads ~1.0 and says nothing. Real distinct vectors are the honest
recall case; the replicated corpus is the honest WALL case. The frontier
table joins the two.

Usage: python tools/ann_frontier.py [sf_dir]   (default /root/testdata/sf0.1)
Prints one JSON line per variant: {"variant", "recall_at_5", "params"}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from transcription_lakehouse_spark.operators.pq import ivfpq_topk, pq_topk  # noqa: E402
from transcription_lakehouse_spark.operators.similarity import (  # noqa: E402
    brute_force_topk,
    ivf_topk,
    lsh_topk,
    sq8_topk,
)
from transcription_lakehouse_spark.session import get_spark  # noqa: E402
from transcription_lakehouse_spark.sources.tables import load_table  # noqa: E402
from transcription_lakehouse_spark.workload._ivf_quantizer import (  # noqa: E402
    CENTROIDS,
)
from transcription_lakehouse_spark.workload._ivfpq_codebooks import (  # noqa: E402
    CODEBOOKS as RESIDUAL_BOOKS,
)
from transcription_lakehouse_spark.workload._pq_codebooks import (  # noqa: E402
    CODEBOOKS,
)
from transcription_lakehouse_spark.operators.graph_ann import (  # noqa: E402
    build_knn_graph,
    graph_topk,
    graph_topk_coarse,
)
from transcription_lakehouse_spark.operators.pca import pca_topk  # noqa: E402
from transcription_lakehouse_spark.workload._pca_basis import (  # noqa: E402
    COMPONENTS as PCA_COMPONENTS,
    MEAN as PCA_MEAN,
)

K = 5


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="ann-frontier")
    emb = load_table(spark, sf_dir, "embeddings").cache()
    n = emb.count()
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    nq = queries.count()
    print(f"# corpus {n} vectors, {nq} queries, k={K}", file=sys.stderr)

    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(queries, emb, "vec_id", "embedding", k=K).collect()
    }

    variants = [
        ("lsh_8x4", lambda: lsh_topk(
            queries, emb, "vec_id", "embedding", k=K, n_bands=8, planes_per_band=4
        ), {"n_bands": 8, "planes_per_band": 4}),
        ("lsh_8x10", lambda: lsh_topk(
            queries, emb, "vec_id", "embedding", k=K, n_bands=8, planes_per_band=10
        ), {"n_bands": 8, "planes_per_band": 10}),
        ("ivf_np2", lambda: ivf_topk(
            queries, emb, "vec_id", "embedding", k=K, n_cells=32, nprobe=2
        ), {"n_cells": 32, "nprobe": 2}),
        ("ivf_np4", lambda: ivf_topk(
            queries, emb, "vec_id", "embedding", k=K, n_cells=32, nprobe=4
        ), {"n_cells": 32, "nprobe": 4}),
        ("ivf_np8", lambda: ivf_topk(
            queries, emb, "vec_id", "embedding", k=K, n_cells=32, nprobe=8
        ), {"n_cells": 32, "nprobe": 8}),
        ("sq8_int8", lambda: sq8_topk(
            queries, emb, "vec_id", "embedding", k=K
        ), {"bits": 8}),
        ("pq_sl64", lambda: pq_topk(
            queries, emb, "vec_id", "embedding", CODEBOOKS, k=K, shortlist=64
        ), {"shortlist": 64}),
        ("ivfpq_np4_sl64", lambda: ivfpq_topk(
            queries, emb, "vec_id", "embedding", CENTROIDS, RESIDUAL_BOOKS,
            k=K, nprobe=4, shortlist=64,
        ), {"nprobe": 4, "shortlist": 64}),
        ("ivfpq_np8_sl64", lambda: ivfpq_topk(
            queries, emb, "vec_id", "embedding", CENTROIDS, RESIDUAL_BOOKS,
            k=K, nprobe=8, shortlist=64,
        ), {"nprobe": 8, "shortlist": 64}),
        ("pca8_sl64", lambda: pca_topk(
            queries, emb, "vec_id", "embedding", PCA_MEAN, PCA_COMPONENTS,
            k=K, shortlist=64,
        ), {"n_components": 8, "shortlist": 64}),
        ("pca8_sl256", lambda: pca_topk(
            queries, emb, "vec_id", "embedding", PCA_MEAN, PCA_COMPONENTS,
            k=K, shortlist=256,
        ), {"n_components": 8, "shortlist": 256}),
    ]

    # graph index: build once (the one-time index step — wall reported on
    # its own line), then measure walks of increasing hop count over the
    # SAME cached edge list, the deployment shape.
    t0 = time.time()
    graph = build_knn_graph(
        emb, "vec_id", "embedding", k_graph=16, n_bands=8, planes_per_band=4
    ).cache()
    n_edges = graph.count()
    print(json.dumps({
        "variant": "graph_build_kg16",
        "recall_at_5": None,
        "wall_sf_sec": round(time.time() - t0, 2),
        "params": {"k_graph": 16, "n_bands": 8, "planes_per_band": 4,
                   "n_edges": n_edges},
    }))
    for hops in (0, 1, 2):
        variants.append((
            f"graph_kg16_h{hops}",
            lambda hops=hops: graph_topk(
                queries, emb, graph, "vec_id", "embedding",
                k=K, beam=16, hops=hops, seed_bands=2, planes_per_band=4,
            ),
            {"k_graph": 16, "beam": 16, "hops": hops, "seed_bands": 2},
        ))
    # two-layer descent: committed-IVF coarse seed + the same graph walk
    for nprobe, hops, beam in ((1, 2, 16), (2, 1, 16), (2, 2, 16),
                               (4, 2, 24)):
        variants.append((
            f"graph_coarse_np{nprobe}_b{beam}_h{hops}",
            lambda nprobe=nprobe, hops=hops, beam=beam: graph_topk_coarse(
                queries, emb, graph, "vec_id", "embedding", CENTROIDS,
                k=K, beam=beam, hops=hops, nprobe=nprobe,
            ),
            {"k_graph": 16, "beam": beam, "hops": hops, "nprobe": nprobe},
        ))

    for name, fn, params in variants:
        t0 = time.time()
        got = {(r["query_id"], r["neighbor_id"]) for r in fn().collect()}
        wall = round(time.time() - t0, 2)
        recall = round(len(got & truth) / len(truth), 4)
        print(json.dumps({
            "variant": name,
            "recall_at_5": recall,
            "wall_sf_sec": wall,
            "params": params,
        }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
