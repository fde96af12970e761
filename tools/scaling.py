"""Scaling experiment: replicate the sf0.1 tables N× (with shifted keys so
cardinality scales too) and time the core operators at each factor.

Usage: python tools/scaling.py [factors...]   (default 1 10 50)
Prints one JSON line per factor; near-linear wall-time growth demonstrates
the operators keep their single-shuffle shape as data grows.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import Window  # noqa: E402

from transcription_lakehouse_spark.operators.intervals import merged_intervals  # noqa: E402
from transcription_lakehouse_spark.operators.sessionization import with_session_id  # noqa: E402
from transcription_lakehouse_spark.session import get_spark  # noqa: E402
from transcription_lakehouse_spark.sources.tables import load_table, replicate  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def scaled_events(spark, factor: int):
    # user ids are replica keys too, so user cardinality scales with the data
    ev = load_table(spark, SF_DIR, "events")
    return replicate(ev, factor, "user_id", "event_id").select(
        "user_id", "event_id", "ts_us", "event_type", "value"
    )


def scaled_docs(spark, factor: int):
    docs = load_table(spark, SF_DIR, "documents")
    return replicate(docs, factor, "doc_id").select("doc_id", "text")


def scaled_embeddings(spark, factor: int):
    emb = load_table(spark, SF_DIR, "embeddings")
    return replicate(emb, factor, "vec_id").select("vec_id", "embedding")


def run(factor: int) -> dict:
    spark = get_spark(app_name=f"scaling-{factor}x")
    ev = scaled_events(spark, factor).cache()
    n = ev.count()
    out = {"factor": factor, "rows": n}

    t0 = time.time()
    with_session_id(ev, ["user_id"], "ts_us", 600_000_000, tiebreak_cols=["event_id"]).groupBy(
        "user_id", "session_id"
    ).count().groupBy().count().collect()
    out["sessionize_sec"] = round(time.time() - t0, 2)

    iv = ev.select(
        "user_id",
        F.col("ts_us").alias("start_us"),
        (F.col("ts_us") + F.floor(F.col("value") * 1e6).cast("long")).alias("end_us"),
    )
    t0 = time.time()
    merged_intervals(iv, ["user_id"], "start_us", "end_us").groupBy().count().collect()
    out["interval_union_sec"] = round(time.time() - t0, 2)

    from transcription_lakehouse_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    a = iv.select(
        "user_id",
        F.col("start_us").alias("s_1"),
        F.col("end_us").alias("e_1"),
    )
    b = iv.select(
        "user_id",
        F.col("start_us").alias("s_2"),
        F.col("end_us").alias("e_2"),
    )
    t0 = time.time()
    interval_overlap_join(a, b, ["user_id"], "s_1", "e_1", "s_2", "e_2").filter(
        F.col("s_1") < F.col("s_2")
    ).groupBy().count().collect()
    out["range_join_sec"] = round(time.time() - t0, 2)

    t0 = time.time()
    ev.groupBy("user_id").agg(
        F.count(F.lit(1)), F.sum("value"), F.countDistinct("event_type")
    ).groupBy().count().collect()
    out["rollup_sec"] = round(time.time() - t0, 2)

    # sketches: per-group state is CONSTANT (d*w counters / 256 registers),
    # so wall should track the single scan, not the key cardinality
    from transcription_lakehouse_spark.operators.sketches import (
        cms_sketch,
        hll_cardinality,
    )

    t0 = time.time()
    cms_sketch(ev, "user_id", ["event_type"]).groupBy().count().collect()
    out["cms_sketch_sec"] = round(time.time() - t0, 2)
    t0 = time.time()
    hll_cardinality(ev, "user_id", ["event_type"]).collect()
    out["hll_sec"] = round(time.time() - t0, 2)

    from transcription_lakehouse_spark.operators.sketches import (
        kmv_intersection,
        kmv_sketch,
    )

    # KMV: retained state is k=256 longs per group no matter how many
    # distinct users flow through — wall should track the distinct pass
    t0 = time.time()
    kmv_intersection(
        kmv_sketch(ev, "user_id", ["event_type"]), "event_type"
    ).collect()
    out["kmv_sec"] = round(time.time() - t0, 2)

    ev.unpersist()

    from transcription_lakehouse_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )
    from transcription_lakehouse_spark.operators.similarity import ivf_topk

    docs = scaled_docs(spark, factor).cache()
    docs.count()
    t0 = time.time()
    sigs = minhash_signature(docs, "doc_id", "text", n=3)
    lsh_candidate_pairs(sigs, "doc_id").groupBy().count().collect()
    out["dedup_minhash_sec"] = round(time.time() - t0, 2)

    # connected components over the real LSH pair graph (replica groups
    # form factor-sized cliques, so the graph grows linearly with factor)
    from transcription_lakehouse_spark.operators.graph import dup_clusters

    cands = lsh_candidate_pairs(sigs, "doc_id").cache()
    out["cc_edges"] = cands.count()
    t0 = time.time()
    dup_clusters(cands, "doc_id_1", "doc_id_2").groupBy().count().collect()
    out["dedup_cc_sec"] = round(time.time() - t0, 2)
    cands.unpersist()

    # substring dup spans: positional 13-grams -> df -> interval union
    # (replica groups make EVERY position duplicated -> worst-case volume)
    from transcription_lakehouse_spark.operators.dedup import dup_span_stats

    t0 = time.time()
    dup_span_stats(docs, "doc_id", "text", n=13, min_df=2).groupBy().agg(
        F.sum("dup_tokens")
    ).collect()
    out["dup_spans_sec"] = round(time.time() - t0, 2)

    # bloom decontamination: the filter is a FIXED 2048-word broadcast no
    # matter the factor; probe cost should track the corpus gram volume
    from transcription_lakehouse_spark.functions.text import tokens as _tokens
    from transcription_lakehouse_spark.operators.decontam import benchmark_ngrams
    from transcription_lakehouse_spark.operators.dedup import shingles_from_tokens
    from transcription_lakehouse_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    bench_docs = docs.filter(F.col("doc_id") % 23 == 0)
    t0 = time.time()
    bloom = bloom_build(benchmark_ngrams(bench_docs, "text", 3), "gram")
    ex = (
        docs.filter(F.col("doc_id") % 23 != 0)
        .select("doc_id", shingles_from_tokens(_tokens("text"), 3).alias("_g"))
        .select("doc_id", F.explode_outer("_g").alias("gram"))
    )
    bloom_probe(ex, bloom, "gram", keep=["doc_id"]).groupBy().count().collect()
    out["bloom_decontam_sec"] = round(time.time() - t0, 2)
    docs.unpersist()

    emb = scaled_embeddings(spark, factor).cache()
    emb.count()
    queries = emb.filter(F.col("vec_id") % (25 * factor) == 0)  # fixed ~200
    t0 = time.time()
    ivf_topk(
        queries, emb, "vec_id", "embedding", k=5, n_cells=32, nprobe=4
    ).groupBy().count().collect()
    out["ann_ivf_sec"] = round(time.time() - t0, 2)
    emb.unpersist()

    # hierarchical pipeline: utterances derived from scaled events (episode
    # cardinality grows with the factor), spans -> heuristic beats
    from transcription_lakehouse_spark.aggregation import (
        generate_beats_heuristic,
        generate_spans,
    )

    rel = F.col("ts_us") - F.min("ts_us").over(Window.partitionBy("user_id"))
    utt = scaled_events(spark, factor).select(
        F.col("user_id").cast("string").alias("episode_id"),
        F.col("event_id").cast("string").alias("utterance_id"),
        F.col("event_type").alias("speaker"),
        (rel / 1e11).alias("start"),
        (rel / 1e11 + 2.0 + F.col("value") / 50.0).alias("end"),
        F.concat_ws(" ", "event_type", "event_id").alias("text"),
    ).cache()
    utt.count()
    t0 = time.time()
    spans = generate_spans(utt)
    spans.groupBy().count().collect()
    out["spans_sec"] = round(time.time() - t0, 2)
    t0 = time.time()
    generate_beats_heuristic(generate_spans(utt)).groupBy().count().collect()
    out["beats_sec"] = round(time.time() - t0, 2)
    utt.unpersist()
    return out


if __name__ == "__main__":
    factors = [int(a) for a in sys.argv[1:]] or [1, 10, 50]
    for f in factors:
        print(json.dumps(run(f)), flush=True)
