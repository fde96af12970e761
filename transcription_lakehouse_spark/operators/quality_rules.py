"""Repetition + heuristic quality rules for training-data curation
(Gopher-style, Rae et al. 2021 "Scaling Language Models", Appendix A1 —
public paper; thresholds parametrized, defaults adapted to short docs).

The reference has a quality-scoring battery over transcripts
(`/root/reference/src/lakehouse/quality/metrics/text_quality.py`); this module
is the training-corpus generalization the task brief asks for: repetition
ratios, word-shape sanity, and a composed pass/fail verdict per document.

Scale design: every per-document metric is a pure array higher-order-function
expression (``F.aggregate`` / ``F.filter`` / ``F.transform``) over the token
array — JVM-side, whole-stage-codegen, ZERO shuffles for the row-level
metrics (pinned in tests/test_plans.py). The mode-count (top n-gram share)
uses a sort-then-max-run fold instead of an explode→groupBy, so even that
stays narrow. Only the corpus-level rollup shuffles (one groupBy with
map-side combine).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions.text import tokens

__all__ = [
    "repetition_metrics",
    "gopher_flags",
    "max_equal_run",
    "mode_count",
]


def max_equal_run(arr: Column) -> Column:
    """Longest run of equal CONSECUTIVE elements in a string array, as one
    JVM-side fold (no explode, no shuffle). Empty array -> 0."""
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc, x):
        run = F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc.best, run).alias("best")
        )

    return F.aggregate(arr, init, step, lambda acc: acc.best)


def mode_count(arr: Column) -> Column:
    """Count of the most frequent element: sort, then longest equal run.
    Stays a narrow per-row expression — the classic explode→groupBy→max
    formulation would shuffle the whole exploded corpus on (id, token)."""
    return max_equal_run(F.array_sort(arr))


def _bigrams(t: Column) -> Column:
    """Non-distinct word bigrams (denominator = size-1)."""
    idx = F.sequence(F.lit(0), F.size(t) - F.lit(2))
    gram = F.transform(
        idx, lambda i: F.concat_ws(" ", F.element_at(t, i + 1), F.element_at(t, i + 2))
    )
    return F.when(F.size(t) >= 2, gram).otherwise(F.array().cast("array<string>"))


def repetition_metrics(
    df: DataFrame, id_col: str, text_col: str,
    extra_cols: list[str] | None = None,
    keep_tokens: bool = False,
) -> DataFrame:
    """Per-document repetition + shape metrics (row-parallel, shuffle-free).

    Columns: n_tokens, distinct_ratio (unique/total), top_unigram_share,
    top_bigram_share, max_token_run (consecutive), mean_word_len,
    alpha_word_ratio, symbol_ratio. ``keep_tokens`` additionally carries
    the ``_toks`` array through, so a caller layering more token-derived
    features (quality_model) doesn't re-run the tokenizer per row.
    """
    toked = df.select(
        id_col, *(extra_cols or []), F.col(text_col).alias("_text"),
        tokens(text_col).alias("_toks"),
    )
    t = F.col("_toks")
    n = F.size(t)
    nd = F.when(n > 0, n.cast("double"))
    char_sum = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    alpha_n = F.size(F.filter(t, lambda x: x.rlike("[a-z]")))
    symbols = F.length(F.regexp_replace(F.col("_text"), r"[^#@*^~\\|]", ""))
    bg = _bigrams(t)
    return toked.select(
        id_col,
        *(extra_cols or []),
        *(["_toks"] if keep_tokens else []),
        n.alias("n_tokens"),
        F.round(F.when(n > 0, F.size(F.array_distinct(t)) / nd).otherwise(0.0), 6)
        .alias("distinct_ratio"),
        F.round(F.when(n > 0, mode_count(t) / nd).otherwise(0.0), 6)
        .alias("top_unigram_share"),
        F.round(
            F.when(F.size(bg) > 0, mode_count(bg) / F.size(bg).cast("double"))
            .otherwise(0.0), 6,
        ).alias("top_bigram_share"),
        max_equal_run(t).alias("max_token_run"),
        F.round(F.when(n > 0, char_sum / nd).otherwise(0.0), 6).alias("mean_word_len"),
        F.round(F.when(n > 0, alpha_n / nd).otherwise(0.0), 6).alias("alpha_word_ratio"),
        F.round(F.when(n > 0, symbols / nd).otherwise(0.0), 6).alias("symbol_ratio"),
    )


# Gopher A1 defaults, adapted: word-count band widened downward for short docs.
GOPHER_DEFAULTS = {
    "min_tokens": 10,
    "max_tokens": 100_000,
    "min_mean_word_len": 2.0,
    "max_mean_word_len": 10.0,
    "max_symbol_ratio": 0.1,
    "min_alpha_word_ratio": 0.8,
    "max_top_unigram_share": 0.30,
    "max_top_bigram_share": 0.18,
    "min_distinct_ratio": 0.30,
}


def gopher_flags(
    df: DataFrame, id_col: str, text_col: str,
    extra_cols: list[str] | None = None, **overrides,
) -> DataFrame:
    """Per-document boolean rule columns + composed ``gopher_pass``.

    Rule names mirror Gopher Appendix A1; a True flag means the document
    FAILS that rule. ``gopher_pass`` = no rule fired.
    """
    p = {**GOPHER_DEFAULTS, **overrides}
    m = repetition_metrics(df, id_col, text_col, extra_cols)
    flags = {
        "fail_token_count": ~F.col("n_tokens").between(p["min_tokens"], p["max_tokens"]),
        "fail_mean_word_len": ~F.col("mean_word_len").between(
            p["min_mean_word_len"], p["max_mean_word_len"]
        ),
        "fail_symbol_ratio": F.col("symbol_ratio") > p["max_symbol_ratio"],
        "fail_alpha_ratio": F.col("alpha_word_ratio") < p["min_alpha_word_ratio"],
        "fail_top_unigram": F.col("top_unigram_share") > p["max_top_unigram_share"],
        "fail_top_bigram": F.col("top_bigram_share") > p["max_top_bigram_share"],
        "fail_distinct_ratio": F.col("distinct_ratio") < p["min_distinct_ratio"],
    }
    out = m
    for name, expr in flags.items():
        out = out.withColumn(name, expr)
    passed = None
    for name in flags:
        passed = ~F.col(name) if passed is None else passed & ~F.col(name)
    return out.withColumn("gopher_pass", passed)
