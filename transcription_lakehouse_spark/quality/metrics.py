"""Quality metric batteries A-E (SURVEY §2.4): each function returns a small
DataFrame (or scalar dict) of metrics, all pure DataFrame aggregations.

Reference: `/root/reference/src/lakehouse/quality/metrics/` — pandas loops
there, single-shuffle window/agg compositions here.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window, WindowSpec

from ..functions.text import content_tokens, punct_ratio, token_count
from ..operators.intervals import merged_intervals, sweep_concurrency
from ..operators.dedup import fingerprint

__all__ = [
    "coverage_metrics",
    "duration_stats",
    "length_compliance",
    "duration_histogram",
    "speaker_balance",
    "text_metrics",
    "integrity_counts",
    "span_battery",
    "duplicate_groups",
    "table_checks",
    "timestamp_regressions",
]


# --- Category A: coverage (`quality/metrics/coverage.py`) -------------------


def coverage_metrics(segments: DataFrame, episodes: DataFrame) -> DataFrame:
    """A19/W3: per-episode union-coverage % (capped at 100 — the reference's
    non-standard semantic, `coverage.py:157,233`), gap and overlap counts.

    episodes: (episode_id, duration_seconds).
    """
    merged = merged_intervals(segments, ["episode_id"], "start_time", "end_time")
    per_ep = merged.groupBy("episode_id").agg(
        F.sum(F.col("end_time") - F.col("start_time")).alias("covered_seconds"),
        F.count(F.lit(1)).alias("n_islands"),
    )
    swept = sweep_concurrency(segments, ["episode_id"], "start_time", "end_time")
    overlaps = swept.groupBy("episode_id").agg(
        F.max("active").alias("max_concurrency"),
        F.sum((F.col("active") >= 2).cast("long")).alias("n_overlap_points"),
    )
    # all three sides are already hash-partitioned on episode_id: merge
    # joins need no further exchange, where broadcasting the per-episode
    # aggregates would cost a job each and grow with the episode count
    out = (
        episodes.select("episode_id", "duration_seconds")
        .join(per_ep.hint("merge"), "episode_id", "left")
        .join(overlaps.hint("merge"), "episode_id", "left")
        .fillna(0, ["covered_seconds", "n_islands", "n_overlap_points"])
    )
    # guard the division: null/zero episode duration must read as 0 coverage
    # (a violation), not 100% — F.least skips nulls, and /0 raises under
    # Spark 4's default ANSI mode
    return out.withColumn(
        "coverage_pct",
        F.when(
            F.col("duration_seconds") > 0,
            F.least(
                F.lit(100.0),
                F.round(
                    F.col("covered_seconds") * 100.0 / F.col("duration_seconds"), 2
                ),
            ),
        ).otherwise(F.lit(0.0)),
    )


# --- Category B: distribution (`quality/metrics/distribution.py`) -----------


def _aliased(aggs: dict[str, Column]) -> list[Column]:
    return [c.alias(name) for name, c in aggs.items()]


def _duration_aggs() -> dict[str, Column]:
    return {
        "n": F.count(F.lit(1)),
        "min_duration": F.round(F.min("duration"), 6),
        "max_duration": F.round(F.max("duration"), 6),
        "mean_duration": F.round(F.avg("duration"), 6),
        "p5_duration": F.round(F.percentile("duration", F.lit(0.05)), 6),
        "median_duration": F.round(F.percentile("duration", F.lit(0.5)), 6),
        "p95_duration": F.round(F.percentile("duration", F.lit(0.95)), 6),
        "std_duration": F.round(F.stddev("duration"), 6),
    }


def duration_stats(segments: DataFrame, group_col: str | None = None) -> DataFrame:
    """A7: min/max/mean/median/p5/p95/std of segment duration."""
    g = segments.groupBy(group_col) if group_col else segments.groupBy()
    return g.agg(*_aliased(_duration_aggs()))


def _compliance_aggs(lo: float, hi: float) -> dict[str, Column]:
    return {
        "n": F.count(F.lit(1)),
        "short": F.sum((F.col("duration") < lo).cast("long")),
        "long": F.sum((F.col("duration") > hi).cast("long")),
    }


def _compliance(counts: dict) -> dict[str, float]:
    n = counts["n"] or 1
    pct_short = round(counts["short"] * 100.0 / n, 2)
    pct_long = round(counts["long"] * 100.0 / n, 2)
    return {
        "pct_in_range": round(100.0 - pct_short - pct_long, 2),
        "pct_too_short": pct_short,
        "pct_too_long": pct_long,
    }


def length_compliance(
    segments: DataFrame, lo: float, hi: float
) -> dict[str, float]:
    """A8: % within [lo,hi] / too short / too long, forced to sum to 100
    (`distribution.py:192-197`)."""
    row = segments.agg(*_aliased(_compliance_aggs(lo, hi))).collect()[0]
    return _compliance(row.asDict())


def duration_histogram(segments: DataFrame, edges: list[float]) -> DataFrame:
    """A9: fixed custom bin edges -> counts + percents."""
    conds = F.when(F.col("duration") < edges[0], F.lit(0))
    for i in range(1, len(edges)):
        conds = conds.when(F.col("duration") < edges[i], F.lit(i))
    bins = segments.withColumn("bin", conds.otherwise(F.lit(len(edges))))
    total = segments.count() or 1
    return (
        bins.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("pct", F.round(F.col("n") * 100.0 / F.lit(total), 2))
        .orderBy("bin")
    )


# --- Category D: balance (`quality/metrics/balance.py`) ---------------------


def speaker_balance(segments: DataFrame, top_n: int = 10) -> DataFrame:
    """A10: per-speaker share + top-N flag with long-tail rollup."""
    speaker = (
        F.coalesce("speaker_canonical", "speaker")
        if "speaker_canonical" in segments.columns
        else F.col("speaker")
    )
    per = segments.groupBy(speaker.alias("speaker")).agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.round(F.sum("duration"), 6).alias("total_duration"),
    )
    # global windows here run over the per-SPEAKER aggregate (cardinality =
    # #speakers, bounded), never the row table — safe at any corpus size
    w = Window.orderBy(F.desc("total_duration"), F.asc("speaker"))
    ranked = per.withColumn("rank", F.row_number().over(w))
    total = F.sum("total_duration").over(Window.partitionBy())
    return ranked.withColumn(
        "pct_duration", F.round(F.col("total_duration") * 100.0 / total, 2)
    ).withColumn("in_top_n", F.col("rank") <= top_n)


# --- Category E: text quality (`quality/metrics/text_quality.py`) -----------


def _text_cols() -> list[Column]:
    return [
        token_count("text").alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.size(content_tokens("text")).alias("n_content"),
        punct_ratio("text").alias("punct"),
    ]


def _text_aggs() -> dict[str, Column]:
    """Aggregates over the :func:`_text_cols` projection."""
    return {
        "n_segments": F.count(F.lit(1)),
        "total_tokens": F.sum("n_tokens"),
        "avg_tokens": F.round(F.avg("n_tokens"), 4),
        "avg_chars": F.round(F.avg("n_chars"), 4),
        "lexical_density": F.round(F.sum("n_content") / F.sum("n_tokens"), 6),
        "avg_punct_ratio": F.round(F.avg("punct"), 6),
    }


def text_metrics(segments: DataFrame, group_col: str | None = None) -> DataFrame:
    """A12-A14: token/char counts, lexical density, punctuation ratio."""
    base = segments.select(*( [group_col] if group_col else [] ), *_text_cols())
    g = base.groupBy(group_col) if group_col else base.groupBy()
    return g.agg(*_aliased(_text_aggs()))


# --- Category C: integrity (`quality/metrics/integrity.py`) -----------------


def _integrity_aggs() -> dict[str, Column]:
    return {
        "negative_duration": F.sum((F.col("duration") < 0).cast("long")),
        "zero_duration": F.sum((F.col("duration") == 0).cast("long")),
        "missing_episode_id": F.sum(
            (F.col("episode_id").isNull() | (F.trim("episode_id") == "")).cast("long")
        ),
        "missing_speaker": F.sum(
            (F.col("speaker").isNull() | (F.trim("speaker") == "")).cast("long")
        ),
        "missing_text": F.sum(
            (F.col("text").isNull() | (F.trim("text") == "")).cast("long")
        ),
        "negative_start": F.sum((F.col("start_time") < 0).cast("long")),
    }


def integrity_battery(segments: DataFrame) -> DataFrame:
    """A17: violation-count battery as ONE conditional aggregation pass
    (single scan regardless of how many checks ride it)."""
    return segments.agg(*_aliased(_integrity_aggs()))


def _integrity_dict(counts: dict) -> dict[str, int]:
    return {k: int(counts[k] or 0) for k in _integrity_aggs()}


def integrity_counts(segments: DataFrame) -> dict[str, int]:
    """Dict view of :func:`integrity_battery` for the assessor."""
    return _integrity_dict(integrity_battery(segments).collect()[0].asDict())


def span_battery(segments: DataFrame, lo: float, hi: float) -> dict:
    """Categories B, C and E as ONE job: the values of
    :func:`duration_stats`, :func:`length_compliance` (within
    ``[lo, hi]``), :func:`integrity_counts`, :func:`text_metrics`, the
    :func:`duplicate_groups` count and the :func:`timestamp_regressions`
    episode total. The keyed checks are windows over one episode_id
    shuffle; everything else aggregates the same rows."""
    keyed = segments.select(
        "duration", "start_time", "end_time", "text", *_text_cols(),
        _dup_eligible().alias("_dup_eligible"), *_dup_key(),
    )
    w_dup = Window.partitionBy(
        "_dup_eligible", "fp", "episode_id", "speaker", "time_bin"
    ).orderBy("start_time")
    flagged = keyed.select(
        "*",
        # the episode window comes first so its episode_id shuffle also
        # serves the duplicate-key window
        _regression(Window.partitionBy("episode_id").orderBy(
            "start_time", "end_time")).alias("_regression"),
        # one marked row per duplicate group (a key with 2+ rows)
        F.when(
            F.col("_dup_eligible") & (F.row_number().over(w_dup) == 2), 1
        ).alias("_dup_group"),
    )
    # the batteries' names are disjoint apart from the shared count "n"
    row = flagged.agg(*_aliased({
        **_duration_aggs(), **_compliance_aggs(lo, hi), **_integrity_aggs(),
        **_text_aggs(),
        "duplicate_groups": F.count("_dup_group"),
        "regressions": F.sum("_regression"),
    })).collect()[0].asDict()
    return {
        "span_duration": {k: row[k] for k in _duration_aggs()},
        "span_compliance": _compliance(row),
        "integrity": _integrity_dict(row),
        "text": {k: row[k] for k in _text_aggs()},
        "duplicate_groups": row["duplicate_groups"],
        "regressions": int(row["regressions"] or 0),
    }


def _dup_eligible() -> Column:
    return F.length(F.trim("text")) >= 10


def _dup_key() -> list[Column]:
    return [fingerprint("text").alias("fp"), F.col("episode_id"),
            F.col("speaker"), F.floor(F.col("start_time") / 300).alias("time_bin")]


def duplicate_groups(segments: DataFrame) -> DataFrame:
    """A16: exact-dup groups on (normalized text, episode, speaker, 5-min
    time bin) having count > 1 (`integrity.py:459-549`); texts < 10 chars are
    exempt (F7)."""
    return (
        segments.filter(_dup_eligible())
        .groupBy(*_dup_key())
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .withColumn("n_duplicates", F.col("n") - 1)
    )


def table_checks(
    df: DataFrame, id_col: str, battery: bool = False,
    parent: DataFrame | None = None, numeric: tuple[str, ...] = (),
) -> dict:
    """An artifact's validation counts as ONE aggregate: ``rows``,
    ``id_dupes`` (rows minus distinct ids; all NULL ids count as one id,
    as ``DISTINCT`` does), with ``battery`` the :func:`integrity_counts`
    battery as ``integrity``, with a ``parent`` table ``orphans``: the
    distinct ``episode_id`` values (NULL included, it never matches) that
    ``parent`` lacks, and per ``numeric`` column the NaN + ±Inf count
    (F9, `validation/checks.py:554-607`) as ``nan_inf``."""
    aggs = {
        "rows": F.count(F.lit(1)),
        "ids": F.count_distinct(id_col),
        "null_id": F.max(F.col(id_col).isNull().cast("long")),
        **(_integrity_aggs() if battery else {}),
        **{f"{c}__nan_inf": F.sum((
            F.isnan(c) | (F.abs(F.col(c)) == F.lit(float("inf")))
        ).cast("long")) for c in numeric},
    }
    if parent is not None:
        known = parent.select("episode_id").distinct().withColumn("_known", F.lit(True))
        df = df.join(known, "episode_id", "left")
        aggs["orphans"] = F.count_distinct(
            F.when(F.col("_known").isNull(), F.col("episode_id"))
        )
        aggs["null_orphan"] = F.max(F.col("episode_id").isNull().cast("long"))
    row = df.agg(*_aliased(aggs)).collect()[0].asDict()
    out = {"rows": row["rows"],
           "id_dupes": row["rows"] - row["ids"] - (row["null_id"] or 0)}
    if battery:
        out["integrity"] = _integrity_dict(row)
    if parent is not None:
        out["orphans"] = row["orphans"] + (row["null_orphan"] or 0)
    if numeric:
        out["nan_inf"] = {c: int(row[f"{c}__nan_inf"] or 0) for c in numeric}
    return out


def _regression(w: WindowSpec) -> Column:
    """1 where a row ends after the next row (under ``w``) starts."""
    nxt = F.lead("start_time").over(w)
    return (nxt.isNotNull() & (F.col("end_time") > nxt)).cast("long")


def timestamp_regressions(segments: DataFrame) -> DataFrame:
    """W6 applied per episode and per (episode, speaker)."""
    w1 = Window.partitionBy("episode_id").orderBy("start_time", "end_time")
    w2 = Window.partitionBy("episode_id", "speaker").orderBy(
        "start_time", "end_time"
    )
    return segments.select(
        "episode_id", _regression(w1).alias("_v1"), _regression(w2).alias("_v2")
    ).groupBy("episode_id").agg(
        F.sum("_v1").alias("episode_regressions"),
        F.sum("_v2").alias("speaker_regressions"),
    )
