"""Materialized-view refresh scaling probe: does an incremental
refresh's wall track the DELTA, not the source table?

`IncrementalAggView.refresh()` reads only the files the source log
added/removed since the last refresh and merges per-group adjustments
into the view. The 100 TB property: appending a fixed-size batch to an
ever-growing source must cost a flat refresh — while a from-scratch
recompute grows with the table. Both are measured side by side.

Usage: python tools/matview_scaling.py [growth_steps] [--minmax]
(default 5). --minmax additionally maintains min/max on the view via the
r9 hybrid rule, with each step's batch DELETING interior (non-extremum)
rows of a few groups: the hybrid must stay DELTA-ONLY (no targeted
recompute fires — counted via a hook) and the refresh wall must stay
flat. Prints one JSON line per step; exits nonzero if the LAST
incremental refresh exceeds 3x the FIRST (wall crept up with source
size), or if a --minmax interior delete triggered a recompute.
"""

from __future__ import annotations

import json
import shutil
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from transcription_lakehouse_spark.matview import IncrementalAggView  # noqa: E402
from transcription_lakehouse_spark.session import get_spark  # noqa: E402
from transcription_lakehouse_spark.txlog import LogTable  # noqa: E402

BULK_ROWS = 3_000_000   # pre-loaded before the first incremental step
BATCH_ROWS = 200_000    # fixed per-step append
N_GROUPS = 1_000


def _rows(spark, lo: int, n: int):
    return spark.range(lo, lo + n).select(
        F.col("id"),
        F.concat(F.lit("g"), (F.col("id") % N_GROUPS).cast("string"))
        .alias("grp"),
        (F.col("id") % 97).cast("double").alias("val"),
    )


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--minmax"]
    minmax = "--minmax" in sys.argv[1:]
    steps = int(args[0]) if args else 5
    spark = get_spark(app_name="matview-scaling")
    root = tempfile.mkdtemp(prefix="mvscale_")
    walls = []
    recomputes = {"n": 0}
    try:
        src = LogTable(spark, f"{root}/src")
        mv = IncrementalAggView(
            spark, src, f"{root}/mv", group_by="grp", sum_cols=["val"],
            min_cols=["val"] if minmax else None,
            max_cols=["val"] if minmax else None,
        )
        if minmax:
            real = mv._exact_minmax

            def _spy(rec_keys, src_v):
                recomputes["n"] += 1
                return real(rec_keys, src_v)

            mv._exact_minmax = _spy
        src.append(_rows(spark, 0, BULK_ROWS))
        total = BULK_ROWS
        t0 = time.time()
        mv.refresh()  # bootstrap: full compute, charged once
        print(json.dumps({
            "step": "bootstrap", "source_rows": total,
            "refresh_sec": round(time.time() - t0, 2),
        }), flush=True)
        for step in range(steps):
            src.append(_rows(spark, total, BATCH_ROWS))
            total += BATCH_ROWS
            if minmax:
                # delete INTERIOR values of a few groups: val spans
                # 0..96 per group, so val BETWEEN 40 AND 50 never touches
                # a stored extremum — the hybrid must stay delta-only
                lo = step * 3
                src.delete(
                    f"grp IN ('g{lo}','g{lo+1}','g{lo+2}') "
                    "AND val >= 40 AND val <= 50 "
                    f"AND id >= {total - BATCH_ROWS}"
                )
            t0 = time.time()
            res = mv.refresh()
            wall = time.time() - t0
            t1 = time.time()
            recompute = (
                src.read().groupBy("grp")
                .agg(F.count("*").alias("cnt"), F.sum("val").alias("s"))
                .collect()
            )
            full_wall = time.time() - t1
            walls.append(wall)
            print(json.dumps({
                "step": step,
                "source_rows": total,
                "refresh_sec": round(wall, 2),
                "full_recompute_sec": round(full_wall, 2),
                "view_groups": mv.view.read().count(),
                "rewritten_files": res.get("rewritten_files"),
                "minmax_recomputes": recomputes["n"] if minmax else None,
            }), flush=True)
            assert len(recompute) == N_GROUPS
        ok = walls[-1] <= max(3 * walls[0], walls[0] + 2.0)
        if not ok:
            print(f"FAIL: refresh wall crept {walls[0]:.2f}s -> "
                  f"{walls[-1]:.2f}s while source grew {steps}x")
        if minmax and recomputes["n"] > 0:
            print(f"FAIL: {recomputes['n']} extremum recomputes fired "
                  "for interior-only deletes")
            ok = False
        return 0 if ok else 1
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
