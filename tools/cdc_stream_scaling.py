"""Streaming CDC scaling probe: does a micro-batch MERGE's wall track
the BATCH (touched files), not the accumulated table?

The r8 `stream_merge_txlog` sink applies each micro-batch as one
file-pruned `merge_cdc` commit. The 100 TB property that matters is the
same one the streaming-graph state earned in r7: per-batch cost must
stay flat while the table grows. Here the table grows by large appends
between fixed-size CDC batches (keys confined to one id range, the
clustered layout's intended shape), and each batch's wall + rewritten
file count is measured.

Usage: python tools/cdc_stream_scaling.py [growth_steps] [--bloom]
(default 5), or `--lifecycle [steps]` (default 50) for the DV
read-amplification curve: unpurged vs optimize(min_dead_ratio=0.2)
after every batch. `--bloom` builds the table with `bloom_for=["id"]`: keyed
discovery then prunes candidate files DRIVER-SIDE from the log's
bitsets before the confirm scan — without it every batch's discovery
scans all live files (cheap here, a cluster-wide sweep at 100 TB).
Prints one JSON line per CDC batch; exits nonzero if the LAST batch's
rewritten file count exceeds the FIRST's by more than 2 files (per-batch
work crept up with table size).
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

from transcription_lakehouse_spark import txlog  # noqa: E402
from transcription_lakehouse_spark.session import get_spark  # noqa: E402
from transcription_lakehouse_spark.txlog import LogTable  # noqa: E402

# record how many files each keyed-rewrite discovery actually scanned
_SCANNED: list[tuple[int, int]] = []
_orig_cand = txlog._bloom_candidates


def _counting_cand(adds, key, vals, *args, **kw):
    out = _orig_cand(adds, key, vals, *args, **kw)
    _SCANNED.append((len(out), len(adds)))
    return out


txlog._bloom_candidates = _counting_cand

GROW_ROWS = 400_000     # appended between CDC batches (clustered on id)
CDC_KEYS = 2_000        # fixed per-batch change-set size


def _rows(spark, lo: int, n: int):
    return spark.range(lo, lo + n).select(
        F.col("id"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("val"),
    )


def lifecycle(steps: int = 50) -> int:
    """DV read-amplification lifecycle (r9 verdict next-round #1): a
    FIXED-size table absorbs ``steps`` fixed-size CDC batches in
    merge-on-read mode, measured twice — NO purging vs calling
    ``optimize(min_dead_ratio=0.2)`` after every batch (the scheduled-
    maintenance policy). Per batch records the merge wall, a full-scan
    wall (sum over a data column: plain files scan Python-free, DV'd
    files pay the bitmap filter), live/DV'd file counts and dead rows.

    The 100 TB question: without a policy every read pays the bitmap
    tax on a growing DV'd-file set forever (dead rows are scanned then
    filtered); with the threshold policy the debt is materialized as
    soon as a file crosses 20% dead and the scan curve stays flat.
    Exits nonzero if the policied run doesn't beat the unpurged run on
    BOTH end-state DV'd files and end-state dead rows."""
    spark = get_spark(app_name="dv-lifecycle-scaling")
    base_rows, batch = 50_000, 2_000
    out: dict[str, list[dict]] = {}
    try:
        for policy in (False, True):
            tag = "policy" if policy else "unpurged"
            root = tempfile.mkdtemp(prefix=f"dvlife_{tag}_")
            try:
                t = LogTable(spark, root, deletion_vectors=True)
                t.append(_rows(spark, 0, base_rows), cluster_by=["id"])
                recs = []
                for step in range(steps):
                    # HASH-SPREAD batches (uniform CDC): each batch
                    # updates a ~4% pseudo-random id subset, re-drawn
                    # per step. Updates then land a few dead rows in
                    # EVERY live file and (critically) never align with
                    # file boundaries — a contiguous sweep fully kills
                    # one file per batch, which merge_cdc simply DROPS,
                    # and the unpurged run self-heals instead of
                    # accumulating the debt this probe exists to show.
                    # coalesce(1): a CDC sink writes its small batch as
                    # ONE file, not one per shuffle partition — without
                    # it the probe measures a 32x small-file explosion,
                    # not the DV tax.
                    changes = (
                        spark.range(0, base_rows)
                        .filter(
                            F.abs(F.hash(F.concat(
                                F.col("id").cast("string"),
                                F.lit(f"_{step}"),
                            ))) % (base_rows // batch) == 0
                        )
                        .select(
                            F.col("id"),
                            F.concat(F.lit(f"u{step}_"),
                                     F.col("id").cast("string"))
                            .alias("val"),
                            F.lit("U").alias("_op"),
                        ).coalesce(1)
                    )
                    t0 = time.time()
                    m = t.merge_cdc(changes, key="id")
                    merge_wall = round(time.time() - t0, 3)
                    purged = packed = 0
                    if policy:
                        # pack threshold BELOW the base-file size: small
                        # update files bin-pack, but the base table's
                        # DV debt must clear through the dead-ratio
                        # policy, not an incidental full rewrite
                        o = t.optimize(
                            min_dead_ratio=0.2, cluster_by=["id"],
                            small_file_bytes=64 * 1024,
                        )
                        purged = o["purged_files"]
                        packed = o.get("packed_files", 0)
                    live = t._snapshot()[0]
                    adds = txlog._live_adds(t._load_for_read(None))
                    dvd = [a for a in adds if a.get("dv")]
                    dead = sum(int(a["dv"]["n"]) for a in dvd)
                    t0 = time.time()
                    t.read().agg(F.sum(F.length("val"))).collect()
                    scan_wall = round(time.time() - t0, 3)
                    rec = {
                        "variant": tag, "step": step,
                        "merge_wall_sec": merge_wall,
                        "scan_wall_sec": scan_wall,
                        "live_files": len(live),
                        "dv_files": len(dvd),
                        "dead_rows": dead,
                        "purged_files": purged,
                        "packed_files": packed,
                        "dv_files_written": m.get("dv_files", 0),
                        "rewritten_files": m["rewritten_files"],
                    }
                    recs.append(rec)
                    print(json.dumps(rec))
                out[tag] = recs
            finally:
                shutil.rmtree(root, ignore_errors=True)
    finally:
        spark.stop()

    def _tail_mean(recs, k=10):
        w = [r["scan_wall_sec"] for r in recs[-k:]]
        return round(sum(w) / len(w), 3)

    u, p = out["unpurged"], out["policy"]
    summary = {
        "metric": "dv_lifecycle",
        "steps": steps,
        "unpurged": {
            "end_dv_files": u[-1]["dv_files"],
            "end_dead_rows": u[-1]["dead_rows"],
            "end_live_files": u[-1]["live_files"],
            "scan_wall_first5_mean": _tail_mean(u[:5]),
            "scan_wall_last10_mean": _tail_mean(u),
        },
        "policy": {
            "end_dv_files": p[-1]["dv_files"],
            "end_dead_rows": p[-1]["dead_rows"],
            "end_live_files": p[-1]["live_files"],
            "scan_wall_first5_mean": _tail_mean(p[:5]),
            "scan_wall_last10_mean": _tail_mean(p),
            "total_purged_files": sum(r["purged_files"] for r in p),
            "total_packed_files": sum(r["packed_files"] for r in p),
        },
    }
    print(json.dumps(summary))
    ok = (p[-1]["dv_files"] <= u[-1]["dv_files"]
          and p[-1]["dead_rows"] < u[-1]["dead_rows"]
          and p[-1]["live_files"] <= u[-1]["live_files"])
    if not ok:
        print("POLICY INEFFECTIVE: optimize() did not bound the DV debt")
    return 0 if ok else 1


def main() -> int:
    args = [a for a in sys.argv[1:]
            if a not in ("--bloom", "--dv", "--lifecycle")]
    if "--lifecycle" in sys.argv[1:]:
        return lifecycle(int(args[0]) if args else 50)
    bloom = "--bloom" in sys.argv[1:]
    dv = "--dv" in sys.argv[1:]
    steps = int(args[0]) if args else 5
    spark = get_spark(app_name="cdc-stream-scaling")
    root = tempfile.mkdtemp(prefix="cdcscale_")
    rewrites = []
    try:
        t = LogTable(spark, root, bloom_for=["id"] if bloom else None,
                     deletion_vectors=dv)
        t.append(_rows(spark, 0, GROW_ROWS), cluster_by=["id"])
        for step in range(steps):
            # fixed-size CDC batch confined to the first id range
            base = step * CDC_KEYS
            changes = (
                spark.range(base, base + CDC_KEYS)
                .select(
                    F.col("id"),
                    F.concat(F.lit("UPD"), F.col("id").cast("string"))
                    .alias("val"),
                    F.when(F.col("id") % 17 == 0, F.lit("D"))
                    .otherwise(F.lit("U")).alias("_op"),
                )
            )
            live_before = len(t._snapshot()[0])
            _SCANNED.clear()
            t0 = time.time()
            out = t.merge_cdc(changes, key="id",
                              txn=("probe", step))
            wall = round(time.time() - t0, 2)
            rewrites.append(out["rewritten_files"]
                            + out.get("dv_files", 0))
            print(json.dumps({
                "step": step,
                "table_rows_before": (step + 1) * GROW_ROWS,
                "live_files": live_before,
                "cdc_keys": CDC_KEYS,
                "rewritten_files": out["rewritten_files"],
                "dv_files": out.get("dv_files", 0),
                "wall_sec": wall,
                "bloom": bloom,
                "dv": dv,
                "discovery_scanned_files": (
                    _SCANNED[-1][0] if _SCANNED else live_before
                ),
            }))
            # grow the table before the next batch (new id range, its own
            # clustered files — the CDC keys never touch it)
            t.append(
                _rows(spark, (step + 1) * 10_000_000, GROW_ROWS),
                cluster_by=["id"],
            )
        if rewrites[-1] > rewrites[0] + 2:
            print(f"CREEP: touched files grew {rewrites[0]} -> "
                  f"{rewrites[-1]} while the batch size stayed fixed")
            return 1
        return 0
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
