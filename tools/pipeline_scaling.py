"""End-to-end pipeline scaling probe: ingest → spans → beats → sections →
catalogs → quality as ONE chain, timed per stage at several replication
factors — proving the chain (not just its pieces, which tools/scaling.py
curves individually) holds its slope. Reference comparable: the 200.46 s
5-episode/81k-span/63k-beat quality run (BASELINE.md,
`quality_reports/20251026_205140`).

Corpus: the sf0.1 events table replicated N× with shifted episode ids
(episode cardinality scales with the data), derived into raw utterances
in-memory (synthetic-corpus generation is excluded from timings; every
pipeline transformation + parquet sink/read IS included — the ingest stage
runs the real split_valid/normalize/write_versioned path).

Metrics per factor: per-stage wall, total wall, artifact row counts, and
shuffle-bytes evidence (sum + peak single-stage shuffle write, read from
the Spark status REST API).

Budget assertion: per-utterance chain cost must NOT grow as the corpus
does — fixed overhead should amortize, so cost/row at the largest factor
must be <= 1.3x cost/row at 1x, else the chain picked up a superlinear
stage and the probe exits nonzero.

Usage: python tools/pipeline_scaling.py [factors...]   (default 1 10 50)
"""

from __future__ import annotations

import json
import shutil
import os
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import Window  # noqa: E402

from transcription_lakehouse_spark.session import get_spark  # noqa: E402
from transcription_lakehouse_spark.sources.tables import load_table, replicate  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
TIME_SCALE = 1e11  # µs → compressed seconds, same as workload.transcript


def raw_utterances(spark, factor: int):
    """Scaled raw-utterance frame in RAW_UTTERANCE_SCHEMA shape; episode
    ids shift per replica so episode cardinality scales too."""
    ev = replicate(load_table(spark, SF_DIR, "events"), factor, "user_id", "event_id")
    rel = F.col("ts_us") - F.min("ts_us").over(Window.partitionBy("user_id"))
    start = rel / F.lit(TIME_SCALE)
    return ev.select(
        F.col("user_id").cast("string").alias("episode_id"),
        start.alias("start"),
        (start + F.lit(2.0) + F.col("value") / F.lit(50.0)).alias("end"),
        F.col("event_type").alias("speaker"),
        F.concat(F.col("event_type"), F.lit(" "), F.col("event_id")).alias("text"),
    )


def shuffle_bytes(spark) -> tuple[int, int]:
    """(total, peak-single-stage) shuffle write bytes from the status API."""
    try:
        base = spark.sparkContext.uiWebUrl
        app_id = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app_id}/stages", timeout=10
        ) as r:
            stages = json.load(r)
        writes = [s.get("shuffleWriteBytes", 0) for s in stages]
        return sum(writes), max(writes, default=0)
    except Exception as e:  # noqa: BLE001 — evidence-gathering, not control flow
        print(f"  (shuffle metrics unavailable: {e})", file=sys.stderr)
        return -1, -1


def run(factor: int, fmt: str = "dirs") -> dict:
    from transcription_lakehouse_spark.ingestion import (
        normalize,
        set_lake_format,
        split_valid,
        write_versioned,
    )
    from transcription_lakehouse_spark.pipeline import (
        catalog,
        materialize,
        quality,
    )

    conf = {
        "spark.ui.enabled": "true",
        "spark.ui.showConsoleProgress": "false",
    }
    if factor >= 800:
        # at 800x a BroadcastExchange fed through a Python-runner stage
        # deadlocked local mode (both JVM reader and python worker blocked
        # at <10% CPU for 45+ min on one straggler task; thread dump showed
        # the broadcast future stuck in PythonRunner ReaderInputStream).
        # Sort-merge joins sidestep the shared-thread-pool stall. Applied
        # ONLY at >=800x so lower factors stay plan-comparable with the
        # committed curve; footnoted honestly in SCALING.md.
        conf["spark.sql.autoBroadcastJoinThreshold"] = "-1"
    spark = get_spark(
        app_name=f"pipeline-scaling-{factor}x",
        extra_conf=conf,
    )
    lake = tempfile.mkdtemp(prefix=f"pipescale_{factor}x_")
    set_lake_format(lake, fmt)  # "txlog": every artifact is a LogTable
    out: dict = {"factor": factor, "lake_format": fmt}
    try:
        raw = raw_utterances(spark, factor).localCheckpoint()  # exclude generation
        out["utterances"] = raw.count()
        t_chain = time.time()

        t0 = time.time()
        valid, _ = split_valid(raw)
        write_versioned(normalize(valid), lake, "normalized")
        out["ingest_sec"] = round(time.time() - t0, 2)

        t0 = time.time()
        counts = materialize(spark, lake, use_embeddings=False)
        out["materialize_sec"] = round(time.time() - t0, 2)
        out.update(counts)

        t0 = time.time()
        catalog(spark, lake)
        out["catalog_sec"] = round(time.time() - t0, 2)

        t0 = time.time()
        q = quality(spark, lake)
        out["quality_sec"] = round(time.time() - t0, 2)
        out["qa_status"] = q["status"]

        out["chain_wall_sec"] = round(time.time() - t_chain, 2)
        total, peak = shuffle_bytes(spark)
        out["shuffle_write_bytes_total"] = total
        out["shuffle_write_bytes_peak_stage"] = peak
    finally:
        shutil.rmtree(lake, ignore_errors=True)
        # fresh app per factor: getOrCreate would otherwise reuse the first
        # session (ignoring extra_conf) and the /stages endpoint would
        # report CUMULATIVE app-wide shuffle bytes, not this factor's
        spark.stop()
    return out


def main() -> int:
    args = sys.argv[1:]
    fmt = "dirs"
    if "--format" in args:
        i = args.index("--format")
        fmt = args[i + 1]
        del args[i:i + 2]
    factors = [int(a) for a in args] or [1, 10, 50]
    results = []
    for f in factors:
        r = run(f, fmt)
        results.append(r)
        print(json.dumps(r))
    if len(results) >= 2:
        base, top = results[0], results[-1]
        per_row_base = base["chain_wall_sec"] / base["utterances"]
        per_row_top = top["chain_wall_sec"] / top["utterances"]
        slope = per_row_top / per_row_base
        print(
            f"per-utterance cost: {per_row_base*1e6:.1f} µs @ {base['factor']}x "
            f"-> {per_row_top*1e6:.1f} µs @ {top['factor']}x (ratio {slope:.2f})"
        )
        if slope > 1.3:
            print(
                "BUDGET FAIL: per-row chain cost grew superlinearly "
                f"({slope:.2f}x > 1.3x) — a stage lost its slope"
            )
            return 1
        print("budget OK: chain per-row cost holds (<= 1.3x) as the corpus scales")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
