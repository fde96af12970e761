"""Coarse-graph ANN frontier at 20x corpus (SCALING.md evidence).

The r6 frontier swept graph_topk_coarse at sf0.1 only; this probe
re-runs the sweep at 20x. Verbatim replication would make recall
vacuous (every true neighbor set is exact duplicates any bucketing
co-locates), so replicas are PERTURBED deterministically — each copy is
a near-dup a few 1e-3 away from its source, giving a 40k-vector corpus
whose top-5 sets are dense near-dup clusters, a strictly harder recall
case than the 1x corpus. Ground truth is brute force over the same 40k.

Usage: python tools/graph_frontier_20x.py [sf_dir] [factor]
Prints one JSON line per variant: recall@5, wall, params.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from transcription_lakehouse_spark.operators.graph_ann import (  # noqa: E402
    build_knn_graph,
    graph_topk,
    graph_topk_coarse,
)
from transcription_lakehouse_spark.operators.similarity import (  # noqa: E402
    brute_force_topk,
)
from transcription_lakehouse_spark.session import get_spark  # noqa: E402
from transcription_lakehouse_spark.sources.tables import load_table, replicate  # noqa: E402
from transcription_lakehouse_spark.workload._ivf_quantizer import (  # noqa: E402
    CENTROIDS,
)

K = 5


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    spark = get_spark(app_name="graph-frontier-20x")
    emb = load_table(spark, sf_dir, "embeddings")
    n0 = emb.count()
    # deterministic perturbation SIZED TO THE GEOMETRY (no RNG): the base
    # corpus is unit-norm with top-5 cosine ~0.37, so a noise vector of
    # norm ~0.75 puts replica<->source cosine ~0.8 — replicas still ARE
    # the true neighbors, but a 10-plane band keeps same-source replicas
    # in one bucket only ~10% of the time, so seed quality + the graph
    # walk genuinely determine recall (a 1e-3 shift made recall vacuously
    # 1.0 for every variant). Pseudo-noise: affine hash mod 2000 mapped
    # to [-0.5, 0.5], scaled 0.33 (E-norm ~= 0.33*sqrt(64/12) ~= 0.76)
    src_id = F.expr(f"vec_id div {factor}")  # the replica's source vec_id
    pert = F.transform(
        F.col("embedding"),
        lambda x, d: x + (
            ((F.col("rep") * 1009 + d * 97 + src_id * 31) % 2000)
            / F.lit(2000.0) - F.lit(0.5)
        ) * F.lit(0.33),
    )
    big = (
        replicate(emb, factor, "vec_id")
        .select("vec_id", pert.alias("embedding"))
        .cache()
    )
    n = big.count()
    queries = big.filter(F.col("vec_id") % 500 == 0).cache()
    nq = queries.count()
    print(f"# corpus {n} ({factor}x of {n0}), {nq} queries, k={K}",
          file=sys.stderr)

    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(
            queries, big, "vec_id", "embedding", k=K
        ).collect()
    }

    t0 = time.time()
    graph = build_knn_graph(
        big, "vec_id", "embedding", k_graph=16, n_bands=8,
        planes_per_band=10,
    ).cache()
    n_edges = graph.count()
    print(json.dumps({
        "variant": "graph_build_20x_kg16",
        "recall_at_5": None,
        "wall_sec": round(time.time() - t0, 2),
        "params": {"k_graph": 16, "planes_per_band": 10,
                   "n_edges": n_edges, "corpus": n},
    }), flush=True)

    variants = [(
        "graph_lsh_seed_h2",
        lambda: graph_topk(
            queries, big, graph, "vec_id", "embedding",
            k=K, beam=16, hops=2, seed_bands=2, planes_per_band=10,
        ),
        {"beam": 16, "hops": 2, "seed_bands": 2},
    )]
    for nprobe, hops, beam in ((2, 1, 16), (2, 2, 16), (4, 1, 24),
                               (4, 2, 24), (8, 2, 24)):
        variants.append((
            f"graph_coarse_np{nprobe}_b{beam}_h{hops}",
            lambda nprobe=nprobe, hops=hops, beam=beam: graph_topk_coarse(
                queries, big, graph, "vec_id", "embedding", CENTROIDS,
                k=K, beam=beam, hops=hops, nprobe=nprobe,
            ),
            {"beam": beam, "hops": hops, "nprobe": nprobe},
        ))

    for name, fn, params in variants:
        t0 = time.time()
        got = {(r["query_id"], r["neighbor_id"]) for r in fn().collect()}
        wall = round(time.time() - t0, 2)
        recall = round(len(got & truth) / len(truth), 4)
        print(json.dumps({
            "variant": name,
            "recall_at_5": recall,
            "wall_sec": wall,
            "params": params,
        }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
