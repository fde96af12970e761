"""Scaling experiment for the round-5 training-pipeline operators:

- semantic_decontam: corpus replicated (ROTATED embeddings, so replicas are
  genuinely distinct vectors — see semdedup_scaling.py), eval slice FIXED
  at the original ~100 vectors. Expected: wall ~ corpus scan (the eval side
  is a broadcast constant; candidates only within shared buckets).
- training_order: documents replicated with distinct ids, repeats=2.
  Expected: wall ~ rows (row-local explode + hash + per-shard windows;
  shard count fixed, so per-shard sort grows linearly).
- quality_classifier: documents replicated with distinct ids. Expected:
  wall ~ scan (scan -> project, no shuffle).

Fresh SparkSession per factor (the pipeline_scaling.py methodology — no
cache/JIT bleed between points). Usage:
    python tools/curation_ops_scaling.py [factors...]   (default 1 10 50)
Prints one JSON line per (operator, factor).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from transcription_lakehouse_spark._quality_model import (  # noqa: E402
    BIAS,
    WEIGHTS,
)
from transcription_lakehouse_spark.operators.decontam import (  # noqa: E402
    semantic_decontam,
)
from transcription_lakehouse_spark.operators.ordering import (  # noqa: E402
    training_order,
)
from transcription_lakehouse_spark.operators.quality_model import (  # noqa: E402
    quality_classifier,
)
from transcription_lakehouse_spark.session import get_spark  # noqa: E402
from transcription_lakehouse_spark.sources.tables import load_table, replicate  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def scaled_embeddings(spark, factor: int):
    emb = load_table(spark, SF_DIR, "embeddings")
    d = 64
    rot = F.col("rep") % d
    arr = F.col("embedding")
    rotated = F.when(rot == 0, arr).otherwise(
        F.concat(F.slice(arr, rot + 1, F.lit(d) - rot), F.slice(arr, 1, rot))
    )
    return replicate(emb, factor, "vec_id").select(
        "vec_id", rotated.alias("embedding")
    )


def scaled_docs(spark, factor: int):
    docs = load_table(spark, SF_DIR, "documents")
    return replicate(docs, factor, "doc_id").select("doc_id", "text", "source")


def main() -> None:
    factors = [int(a) for a in sys.argv[1:]] or [1, 10, 50]
    for factor in factors:
        spark = get_spark(app_name=f"curation-ops-scaling-{factor}")
        emb = load_table(spark, SF_DIR, "embeddings")
        evalset = emb.filter(F.col("vec_id") % 20 == 0).localCheckpoint()
        corpus = scaled_embeddings(spark, factor).localCheckpoint()
        n_vec = corpus.count()
        t0 = time.time()
        n_flagged = semantic_decontam(
            corpus, evalset, "vec_id", "embedding",
            threshold=0.35, n_bands=8, planes_per_band=4,
        ).count()
        print(json.dumps({
            "op": "semantic_decontam", "factor": factor, "corpus": n_vec,
            "flagged": n_flagged, "wall_sec": round(time.time() - t0, 2),
        }), flush=True)

        docs = scaled_docs(spark, factor).localCheckpoint()
        n_docs = docs.count()
        t0 = time.time()
        n_placed = training_order(
            docs, "doc_id", keep_cols=["source"], repeats=2, n_shards=32
        ).count()
        print(json.dumps({
            "op": "training_order", "factor": factor, "docs": n_docs,
            "placed": n_placed, "wall_sec": round(time.time() - t0, 2),
        }), flush=True)

        t0 = time.time()
        n_scored = quality_classifier(
            docs, "doc_id", "text", WEIGHTS, BIAS
        ).count()
        print(json.dumps({
            "op": "quality_classifier", "factor": factor, "docs": n_docs,
            "scored": n_scored, "wall_sec": round(time.time() - t0, 2),
        }), flush=True)
        spark.stop()


if __name__ == "__main__":
    main()
