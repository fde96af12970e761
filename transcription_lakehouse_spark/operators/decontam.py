"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set (the GPT-3 appendix-C /
Llama-style 13-gram overlap check — public method; n parametrized).

The reference has no decontamination pass; this is one of the
training-data-pipeline operators the brief adds as first-class.

Scale design: the benchmark side is DISTINCT n-grams of the (small)
eval set — broadcast to every executor, so the corpus side streams
through one narrow explode + broadcast hash join + one groupBy(doc_id)
with map-side combine. The corpus is never shuffled on the gram string,
and no all-pairs doc×doc comparison ever exists. At 100 TB corpus /
MB-scale benchmarks this is a single scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions.text import tokens
from .dedup import shingles_from_tokens

__all__ = [
    "benchmark_ngrams",
    "ngram_contamination",
    "semantic_decontam",
    "boilerplate_fraction",
]


def benchmark_ngrams(
    benchmark: DataFrame, text_col: str, n: int
) -> DataFrame:
    """Distinct word n-grams of the benchmark set — one column ``gram``.
    Intended to be small enough to broadcast (eval sets are MBs)."""
    toked = benchmark.select(tokens(text_col).alias("_toks"))
    return (
        toked.select(F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("gram"))
        .distinct()
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    flag_threshold: float = 0.0,
) -> DataFrame:
    """Per-corpus-document contamination against a benchmark set.

    Returns (id, n_grams, n_hit, contamination_ratio, is_contaminated):
    ``n_grams`` = distinct n-grams in the doc, ``n_hit`` = how many also
    occur anywhere in the benchmark, ``is_contaminated`` = ratio strictly
    greater than ``flag_threshold`` (default: any hit flags).

    Documents with fewer than n tokens have no n-grams: ratio 0, never
    flagged (mirrors the reference-free convention of the public recipes).
    """
    bench = F.broadcast(
        benchmark_ngrams(benchmark, text_col, n).withColumn("_hit", F.lit(1))
    )
    toked = corpus.select(id_col, tokens(text_col).alias("_toks"))
    sh = toked.select(
        id_col, shingles_from_tokens(F.col("_toks"), n).alias("_grams")
    )
    # ONE corpus pass: totals ride the exploded rows (explode_outer keeps
    # gram-less docs AND avoids the inferred size>0 filter that would
    # re-evaluate the shingle lambda on raw text), the broadcast left join
    # marks hits, and the per-doc groupBy collapses map-side before any
    # shuffle. A separate totals branch would scan + shingle twice.
    ex = sh.select(
        id_col,
        F.size("_grams").alias("n_grams"),
        F.explode_outer("_grams").alias("gram"),
    )
    joined = (
        ex.join(bench, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.max("n_grams").alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_hit"),
        )
    )
    ratio = F.when(
        F.col("n_grams") > 0, F.col("n_hit") / F.col("n_grams").cast("double")
    ).otherwise(F.lit(0.0))
    return joined.select(
        id_col,
        "n_grams",
        F.col("n_hit").cast("long").alias("n_hit"),
        F.round(ratio, 6).alias("contamination_ratio"),
        (ratio > F.lit(flag_threshold)).alias("is_contaminated"),
    )


def semantic_decontam(
    corpus: DataFrame,
    evalset: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.35,
    n_bands: int = 8,
    planes_per_band: int = 4,
) -> DataFrame:
    """Embedding-level decontamination: flag corpus vectors whose cosine
    to ANY eval-set vector reaches ``threshold`` — the paraphrase-robust
    complement of :func:`ngram_contamination` (verbatim 13-gram overlap
    misses reworded benchmark leakage; embedding similarity catches it —
    the screen the phi/Minerva-style dataset reports describe).

    Returns one row per CONTAMINATED corpus vector:
    ``(corpus_id, matched_eval_id, max_sim, n_eval_hits)`` where
    ``matched_eval_id`` is the highest-cosine eval vector (ties broken by
    eval id) and ``n_eval_hits`` counts eval vectors at/above threshold.

    Scale design — the same asymmetric shape as the n-gram pass: the eval
    side is SMALL (eval suites are thousands of rows), so its banded
    buckets broadcast — note the broadcast relation is |eval| × n_bands
    rows CARRYING full vectors (~600 B/row at 64-dim float64), so even a
    100 k-row eval suite at 8 bands stays well under Spark's 8 GiB
    broadcast cap; suites past ~2 M rows must drop the hint (the
    ``broadcast`` flag of `similarity._collision_scores`, which
    `append_knn_graph` gates on a batch count); the corpus streams through
    one banded-LSH bucket equi-join (candidates only within shared buckets
    — never all-pairs), one exact rescore of candidates, and one map-side-combinable
    groupBy(corpus_id). Corpus recall follows the OR-of-bands curve
    `lsh_topk` documents; banding + rounded-6 cosine are md5-deterministic,
    so the whole screen value-hash-gates against a DuckDB twin
    (`workload/vectors.py:VEC_SEMANTIC_DECONTAM_SQL`).
    """
    from .similarity import _collision_scores, _dedupe_by, _rank_topk, _vec_side

    c = _vec_side(corpus, id_col, vec_col, "corpus_id", "cv", "cn")
    e = _vec_side(evalset, id_col, vec_col, "eval_id", "ev", "en")
    # Score AT the collision row (`_collision_scores`, r11): the eval side
    # broadcasts WITH vectors and the threshold filter runs in the bucket
    # join's stage, so the corpus never shuffles and the dedupe sees only
    # the few surviving hits (measured sf0.1×20: 2.04 M collisions → 7,980
    # hits, where deduping pairs first cost a 1.6 M-row distinct exchange
    # plus a corpus-wide vector re-fetch SortMergeJoin). Self-pairs stay:
    # an eval row may share its id (and its vector) with a corpus row, and
    # that row is exactly the leak to flag.
    scored = _collision_scores(e, c, n_bands, planes_per_band).filter(
        F.col("sim") >= F.lit(threshold)
    )
    # the few surviving hits dedupe over the corpus_id exchange, which the
    # hit-count window and the argmax rank share
    hits = F.count(F.lit(1)).over(Window.partitionBy("corpus_id"))
    return _rank_topk(
        _dedupe_by(scored, "corpus_id").withColumn("n_eval_hits", hits),
        1, by="corpus_id", tie="eval_id",
        cols=[
            "corpus_id",
            F.col("eval_id").alias("matched_eval_id"),
            F.col("sim").alias("max_sim"),
            "n_eval_hits",
        ],
    )


def boilerplate_fraction(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_df: int = 10,
) -> DataFrame:
    """Corpus-internal boilerplate detection (the CCNet/C4-style repeated-
    passage filter, public method): an n-gram is *boilerplate* when it
    occurs in >= ``min_df`` distinct documents; each document reports the
    fraction of its distinct n-grams that are boilerplate.

    Returns (id, n_grams, n_boiler, boiler_fraction).

    Scale design: two shuffles, both map-side combinable — (1) gram →
    document-frequency counts (distinct grams per doc by construction, so
    ``count(*)`` IS the df), (2) the exploded corpus re-joins the df table
    on the gram hash and collapses back to one row per document. Hot grams
    skew shuffle (2); AQE skew-join splitting handles it because the join is
    a plain equi-join. No doc×doc pairs, no driver collection.
    """
    toked = corpus.select(id_col, tokens(text_col).alias("_toks"))
    sh = toked.select(
        id_col, shingles_from_tokens(F.col("_toks"), n).alias("_grams")
    )
    ex = sh.select(
        id_col,
        F.size("_grams").alias("n_grams"),
        F.explode_outer("_grams").alias("gram"),
    )
    df_counts = (
        ex.filter(F.col("gram").isNotNull())
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("gram", F.lit(1).alias("_boiler"))
    )
    joined = (
        ex.join(df_counts, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.max("n_grams").alias("n_grams"),
            F.coalesce(F.sum("_boiler"), F.lit(0)).alias("n_boiler"),
        )
    )
    frac = F.when(
        F.col("n_grams") > 0, F.col("n_boiler") / F.col("n_grams").cast("double")
    ).otherwise(F.lit(0.0))
    return joined.select(
        id_col,
        "n_grams",
        F.col("n_boiler").cast("long").alias("n_boiler"),
        F.round(frac, 6).alias("boiler_fraction"),
    )
