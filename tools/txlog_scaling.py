"""LogTable data-skipping evidence (SCALING.md).

Builds a range-clustered LogTable with many files, then measures a
selective filtered read two ways:

  full   — read() + .filter(...)        (Spark opens every live file)
  scan   — scan(filters=[...])          (driver prunes from log stats)

A full-table warm-up pass runs first and the stats scan is measured
BEFORE the full read, so page-cache warm-up biases against, not for,
the reported skipping gain.

reporting wall and the number of files each plan actually reads. The
point at 100 TB: `scan` decides from the COMMIT LOG which files can
match — no file listing, no footer sweep — so a selective query's cost
tracks the matching range, not the table.

Usage: python tools/txlog_scaling.py [n_files] [rows_per_file]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from transcription_lakehouse_spark.session import get_spark  # noqa: E402
from transcription_lakehouse_spark.txlog import LogTable  # noqa: E402


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 128
    rows_per = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
    spark = get_spark(app_name="txlog-scaling")
    tmp = tempfile.mkdtemp(prefix="txlog_scaling_")
    t = LogTable(spark, os.path.join(tmp, "t"))
    total = n_files * rows_per
    df = spark.range(total).selectExpr(
        "id", "id % 97 AS grp", "CAST(id AS DOUBLE) * 1.5 AS val"
    )
    t.append(df)
    t.compact(target_files=n_files, cluster_by=["id"])
    lo, hi = total // 2, total // 2 + rows_per  # ~one file's range
    t.read().count()  # warm-up: page cache + codegen for ALL files

    t0 = time.time()
    pruned = t.scan(filters=[("id", ">=", lo), ("id", "<", hi)])
    n_scan = pruned.count()
    files_scan = len(pruned.inputFiles())
    wall_scan = round(time.time() - t0, 2)

    t0 = time.time()
    full = t.read().filter(f"id >= {lo} AND id < {hi}")
    n_full = full.count()
    files_full = len(full.inputFiles())
    wall_full = round(time.time() - t0, 2)

    assert n_full == n_scan, (n_full, n_scan)
    print(json.dumps({
        "n_files": n_files,
        "rows": total,
        "selective_rows": n_scan,
        "full_read": {"files": files_full, "wall_sec": wall_full},
        "stats_scan": {"files": files_scan, "wall_sec": wall_scan},
    }))


if __name__ == "__main__":
    main()
