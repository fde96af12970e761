"""Quality-model score calibration evidence (round-6 verdict ask #6).

HOLDOUT_ACCURACY=1.0 on the training slice only proves the planted junk
is linearly separable; this tool shows how the committed model scores
REAL corpus text: a 20-bin histogram of `quality_score` over a sf dir's
documents plus the percentiles that matter at the 0.5 serving gate
(`curate --min-quality` default). Healthy calibration = the clean-corpus
mass sits well above the gate (p5 comfortably > 0.5) with no spike in
the gate's neighborhood; the pinned pytest twin of this check is
tests/test_quality.py::test_quality_scores_not_degenerate_at_gate.

Usage: python tools/quality_score_hist.py [sf_dir]
Prints one JSON line: histogram, percentiles, pass rate.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from transcription_lakehouse_spark._quality_model import BIAS, WEIGHTS  # noqa: E402
from transcription_lakehouse_spark.operators.quality_model import (  # noqa: E402
    quality_classifier,
)
from transcription_lakehouse_spark.session import get_spark  # noqa: E402
from transcription_lakehouse_spark.sources.tables import load_table  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="quality-score-hist")
    docs = load_table(spark, sf_dir, "documents")
    scored = quality_classifier(docs, "doc_id", "text", WEIGHTS, BIAS).select(
        "quality_score"
    )
    n = scored.count()
    hist = {
        f"{r['bin'] / 20:.2f}-{(r['bin'] + 1) / 20:.2f}": r["n"]
        for r in scored.groupBy(
            F.least(F.floor(F.col("quality_score") * 20), F.lit(19))
            .cast("int").alias("bin")
        ).agg(F.count(F.lit(1)).alias("n")).orderBy("bin").collect()
    }
    pct = scored.select(
        F.percentile_approx(
            "quality_score", [0.01, 0.05, 0.25, 0.5, 0.75, 0.95], 10000
        ).alias("p")
    ).head()["p"]
    n_pass = scored.filter(F.col("quality_score") >= 0.5).count()
    near_gate = scored.filter(
        (F.col("quality_score") >= 0.45) & (F.col("quality_score") < 0.55)
    ).count()
    print(json.dumps({
        "sf_dir": os.path.basename(sf_dir.rstrip("/")),
        "n_docs": n,
        "histogram": hist,
        "percentiles": {
            k: round(v, 4)
            for k, v in zip(["p1", "p5", "p25", "p50", "p75", "p95"], pct)
        },
        "pass_rate": round(n_pass / n, 4),
        "within_0.45_0.55": near_gate,
    }))


if __name__ == "__main__":
    main()
