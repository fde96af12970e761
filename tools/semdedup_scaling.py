"""Scaling experiment for canonical SemDeDup (`semdedup_kmeans`): does the
paper's cost model hold on this implementation — n_cells grown with the
corpus so cell population (and therefore each per-cell GEMM) stays bounded,
making total work ~linear in N?

Replicas are ROTATED (element-wise array rotation per replica) so they stay
genuinely distinct vectors — verbatim replication would make every replica
group an exact-dup clique and measure quadratic pair growth instead of the
operator's scaling. The quantizer is retrained per factor at
n_cells = max(16, N / TARGET_CELL) — the paper's rule (cluster count
proportional to corpus, fixed expected cluster size), same deterministic
`train_centroids` as the committed artifact.

Usage: python tools/semdedup_scaling.py [factors...]   (default 1 5 20)
Prints one JSON line per factor.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from transcription_lakehouse_spark.operators.similarity import (  # noqa: E402
    semdedup_kmeans,
    train_centroids,
)
from transcription_lakehouse_spark.session import get_spark  # noqa: E402
from transcription_lakehouse_spark.sources.tables import load_table, replicate  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
TARGET_CELL = 300
THRESHOLD = 0.35


def scaled_embeddings(spark, factor: int):
    emb = load_table(spark, SF_DIR, "embeddings")
    d = 64
    rot = F.col("rep") % d
    arr = F.col("embedding")
    rotated = F.when(rot == 0, arr).otherwise(
        F.concat(
            F.slice(arr, rot + 1, F.lit(d) - rot), F.slice(arr, 1, rot)
        )
    )
    return replicate(emb, factor, "vec_id").select(
        "vec_id", rotated.alias("embedding")
    )


def frontier() -> None:
    """Cell-count recall-vs-wall frontier (round-5 verdict stretch): on a
    FIXED corpus, sweep n_cells and measure (a) dedup wall, (b) pair
    recall vs the exact all-pairs ground truth — the fraction of true
    cosine>=threshold near-dup pairs that land in the same cell. More
    cells = smaller GEMMs (cheaper) but more cross-cell blind-spot pairs
    (the algorithm's published semantics); this table makes that trade
    data-driven like the ANN frontier.

    Usage: python tools/semdedup_scaling.py --frontier [factor]
    """
    from transcription_lakehouse_spark.functions.vector import (
        as_double_array,
        guarded_cosine,
        l2_norm,
    )

    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark(app_name="semdedup-frontier")
    corpus = scaled_embeddings(spark, factor).localCheckpoint()
    n = corpus.count()

    # exact ground truth: all true near-dup pairs (id_1 < id_2). O(n^2/2)
    # — affordable at frontier scale only; NEVER a production path.
    a = corpus.select(
        F.col("vec_id").alias("id_1"), as_double_array("embedding").alias("va")
    ).withColumn("na", l2_norm(F.col("va")))
    b = corpus.select(
        F.col("vec_id").alias("id_2"), as_double_array("embedding").alias("vb")
    ).withColumn("nb", l2_norm(F.col("vb")))
    truth = {
        (r["id_1"], r["id_2"])
        for r in a.join(b, F.col("id_1") < F.col("id_2"))
        .select(
            "id_1", "id_2",
            guarded_cosine(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("sim"),
        )
        .filter(F.col("sim") >= THRESHOLD)
        .collect()
    }
    print(f"# corpus {n}, true pairs {len(truth)}", file=sys.stderr)

    from transcription_lakehouse_spark.operators.graph import dup_clusters
    from transcription_lakehouse_spark.operators.similarity import (
        _nearest_cells_udf,
    )

    for n_cells in (8, 16, 32, 64, 128):
        t0 = time.time()
        cents = train_centroids(
            corpus, "vec_id", "embedding", n_cells=n_cells
        )
        t_train = round(time.time() - t0, 2)
        t1 = time.time()
        out = semdedup_kmeans(
            corpus, "vec_id", "embedding", cents, threshold=THRESHOLD
        )
        out.count()
        wall = round(time.time() - t1, 2)
        # recovered pairs = within-component pairs; recall against truth
        comp = {}
        for r in out.collect():
            comp.setdefault(r["component_id"], []).append(r["vec_id"])
        got = set()
        for members in comp.values():
            ms = sorted(members)
            for i in range(len(ms)):
                for j in range(i + 1, len(ms)):
                    got.add((ms[i], ms[j]))
        # transitive closure can pair members whose direct cosine is below
        # threshold — recall counts only true pairs recovered
        recall = round(len(got & truth) / len(truth), 4) if truth else None
        assign1 = _nearest_cells_udf(cents, 1)
        pops = (
            corpus.withColumn(
                "cell", F.element_at(assign1(F.col("embedding")), 1)
            )
            .groupBy("cell").count().agg(
                F.max("count").alias("mx"), F.avg("count").alias("av")
            ).collect()[0]
        )
        print(
            json.dumps({
                "n_vectors": n,
                "n_cells": n_cells,
                "pair_recall": recall,
                "true_pairs": len(truth),
                "recovered_true_pairs": len(got & truth),
                "max_cell_pop": pops["mx"],
                "avg_cell_pop": round(pops["av"], 1),
                "train_wall_sec": t_train,
                "dedup_wall_sec": wall,
            }),
            flush=True,
        )
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--frontier":
        frontier()
        return
    factors = [int(a) for a in sys.argv[1:]] or [1, 5, 20]
    for factor in factors:
        # fresh app per factor: no cache/JIT bleed between points (the
        # pipeline_scaling.py methodology fix from r4)
        spark = get_spark(app_name=f"semdedup-scaling-{factor}")
        corpus = scaled_embeddings(spark, factor).localCheckpoint()
        n = corpus.count()
        n_cells = max(16, n // TARGET_CELL)
        t0 = time.time()
        cents = train_centroids(
            corpus, "vec_id", "embedding", n_cells=n_cells
        )
        t_train = round(time.time() - t0, 2)
        t1 = time.time()
        out = semdedup_kmeans(
            corpus, "vec_id", "embedding", cents, threshold=THRESHOLD
        )
        clustered = out.count()
        wall = round(time.time() - t1, 2)
        print(
            json.dumps(
                {
                    "factor": factor,
                    "n_vectors": n,
                    "n_cells": n_cells,
                    "clustered_rows": clustered,
                    "train_wall_sec": t_train,
                    "dedup_wall_sec": wall,
                    "us_per_vector": round(wall * 1e6 / n, 1),
                }
            ),
            flush=True,
        )
        spark.stop()


if __name__ == "__main__":
    main()
