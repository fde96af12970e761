"""Quality assessment orchestration + RAG verdict (A23).

Mirrors `/root/reference/src/lakehouse/quality/assessor.py:467-843` +
`thresholds.py:13-27`: run the category A-G metric batteries, compare the
collected scalars against thresholds, accumulate violations, and decide
GREEN / AMBER / RED. Metric computation is distributed; threshold logic runs
on collected scalars at the driver (they are O(categories), not O(rows)).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation

from .metrics import (
    coverage_metrics,
    length_compliance,
    span_battery,
    speaker_balance,
)

__all__ = ["Thresholds", "Violation", "assess"]


@dataclass
class Thresholds:
    """Defaults from `quality/thresholds.py:28-82`."""

    min_coverage_pct: float = 80.0
    span_len_range: tuple[float, float] = (20.0, 120.0)
    beat_len_range: tuple[float, float] = (60.0, 180.0)
    min_len_compliance_pct: float = 50.0
    max_duplicate_groups: int = 0
    max_regressions: int = 0
    max_integrity_violations: int = 0
    random_seed: int = 42
    # driver-side detail cap: per-key metric lists (episodes, speakers)
    # collect at most this many rows + ONE tail-rollup row, so pathological
    # key cardinality (100k speakers) cannot OOM the driver
    max_detail_rows: int = 1000


@dataclass
class Violation:
    category: str
    check: str
    severity: str  # "error" | "warning"
    value: float
    threshold: float

    def as_dict(self) -> dict:
        return self.__dict__.copy()


@dataclass
class Assessment:
    status: str  # GREEN / AMBER / RED
    violations: list[Violation] = field(default_factory=list)
    metrics: dict = field(default_factory=dict)
    # the thresholds the assessor actually evaluated against — carried so
    # write_report documents the applied thresholds, not a fresh default
    thresholds: "Thresholds | None" = None


def _rag(violations: list[Violation]) -> str:
    """`assessor.py:1040-1069`: any error ⇒ RED; any warning ⇒ AMBER."""
    if any(v.severity == "error" for v in violations):
        return "RED"
    if violations:
        return "AMBER"
    return "GREEN"


def assess(
    spans: DataFrame,
    episodes: DataFrame,
    beats: DataFrame | None = None,
    thresholds: Thresholds | None = None,
) -> Assessment:
    th = thresholds or Thresholds()
    violations: list[Violation] = []
    metrics: dict = {}

    # A: coverage — collect only the WORST max_detail_rows episodes; the
    # rollup over every episode is observed on that same pass, so the
    # per-episode violation detail is bounded even on a million-episode lake
    cov_obs = Observation()
    cov = coverage_metrics(spans, episodes).observe(
        cov_obs,
        F.count(F.lit(1)).alias("n_episodes"),
        F.sum((F.col("coverage_pct") < th.min_coverage_pct).cast("long")).alias(
            "n_below_threshold"
        ),
        F.round(F.avg("coverage_pct"), 2).alias("avg_coverage_pct"),
        F.min("coverage_pct").alias("min_coverage_pct"),
    )
    cov_rows = (
        cov.orderBy(F.asc("coverage_pct"), F.asc("episode_id"))
        .limit(th.max_detail_rows)
        .collect()
    )
    cov_summary = cov_obs.get
    metrics["coverage"] = [r.asDict() for r in cov_rows]
    metrics["coverage_summary"] = cov_summary
    n_below = int(cov_summary["n_below_threshold"] or 0)
    for r in cov_rows:
        if r["coverage_pct"] < th.min_coverage_pct:
            violations.append(
                Violation("coverage", f"episode {r['episode_id']}", "warning",
                          r["coverage_pct"], th.min_coverage_pct)
            )
    n_detailed = sum(
        1 for r in cov_rows if r["coverage_pct"] < th.min_coverage_pct
    )
    if n_below > n_detailed:
        violations.append(
            Violation(
                "coverage",
                f"{n_below - n_detailed} more episodes below threshold "
                f"(detail capped at {th.max_detail_rows})",
                "warning",
                float(cov_summary["avg_coverage_pct"]),
                th.min_coverage_pct,
            )
        )

    # B (distribution), C (integrity) and E (text) in one job
    battery = span_battery(spans, *th.span_len_range)
    metrics["span_duration"] = battery["span_duration"]
    comp = battery["span_compliance"]
    metrics["span_compliance"] = comp
    if comp["pct_in_range"] < th.min_len_compliance_pct:
        violations.append(
            Violation("distribution", "span length compliance", "warning",
                      comp["pct_in_range"], th.min_len_compliance_pct)
        )

    # C: integrity
    ic = battery["integrity"]
    metrics["integrity"] = ic
    bad = sum(ic.values())
    if bad > th.max_integrity_violations:
        violations.append(
            Violation("integrity", "violation counts", "error", bad,
                      th.max_integrity_violations)
        )
    n_dup = battery["duplicate_groups"]
    metrics["duplicate_groups"] = n_dup
    if n_dup > th.max_duplicate_groups:
        violations.append(
            Violation("integrity", "exact duplicate groups", "warning", n_dup,
                      th.max_duplicate_groups)
        )
    regs = battery["regressions"]
    metrics["regressions"] = regs
    if regs > th.max_regressions:
        violations.append(
            Violation("integrity", "timestamp regressions", "warning", regs,
                      th.max_regressions)
        )

    # D: balance — top-N by rank + ONE tail-rollup row, never the full
    # per-speaker list (a 100k-speaker corpus must not OOM the driver); the
    # tail is observed on the pass that collects the head
    in_head = F.col("rank") <= th.max_detail_rows
    tail_obs = Observation()
    bal = speaker_balance(spans).observe(
        tail_obs,
        F.lit("<tail>").alias("speaker"),
        F.sum(F.when(~in_head, F.col("n_segments"))).alias("n_segments"),
        F.round(F.sum(F.when(~in_head, F.col("total_duration"))), 6).alias(
            "total_duration"
        ),
        F.lit(None).cast("int").alias("rank"),
        F.round(F.sum(F.when(~in_head, F.col("pct_duration"))), 2).alias(
            "pct_duration"
        ),
        F.lit(False).alias("in_top_n"),
        F.count(F.when(~in_head, 1)).alias("n_speakers_in_tail"),
    )
    balance_rows = [r.asDict() for r in bal.filter(in_head).collect()]
    if tail_obs.get["n_speakers_in_tail"] > 0:
        balance_rows.append(tail_obs.get)
    metrics["speaker_balance"] = balance_rows

    metrics["text"] = battery["text"]

    # B for beats (optional)
    if beats is not None:
        metrics["beat_compliance"] = length_compliance(beats, *th.beat_len_range)

    return Assessment(
        status=_rag(violations),
        violations=violations,
        metrics=metrics,
        thresholds=th,
    )
