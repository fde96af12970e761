"""Table maintenance: small-file compaction (the OPTIMIZE half of lakehouse
housekeeping the reference's versioned writer leaves to the user —
`/root/reference/src/lakehouse/ingestion/writer.py` writes whatever
partitioning the upstream job had).

Small files are the dominant silent killer of 100 TB scans: a table written
by a 2000-task streaming job accumulates thousands of KB-sized parquet
files, and every downstream scan pays per-file open/footer costs plus
scheduler overhead. Compaction rewrites a versioned artifact into
size-targeted files WITHOUT changing row contents, as a NEW version —
readers of the old version are untouched (same immutability contract as
`ingestion.write_versioned`).
"""

from __future__ import annotations

import math
import os
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "file_stats",
    "compact",
    "layout",
    "merge_upsert",
    "optimize_lake",
    "version_diff",
    "vacuum",
]

TARGET_FILE_BYTES = 128 * 1024 * 1024  # match files.maxPartitionBytes


def file_stats(path: str) -> dict:
    """Per-directory parquet file-size profile (recursive): count, bytes,
    min/avg/max file size — the signal that decides whether compaction is
    worth a rewrite. LOCAL filesystem paths only (glob-based); for object
    stores, size from the catalog/filesystem listing instead."""
    import glob as _glob

    files = _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    sizes = [os.path.getsize(f) for f in files]
    n = len(sizes)
    return {
        "n_files": n,
        "bytes": sum(sizes),
        "min_file_bytes": min(sizes) if sizes else 0,
        "avg_file_bytes": (sum(sizes) // n) if n else 0,
        "max_file_bytes": max(sizes) if sizes else 0,
    }


def optimize_lake(
    spark: SparkSession,
    base_dir: str,
    max_dead_ratio: float = 0.2,
    small_file_bytes: int | None = None,
) -> dict:
    """Lake-wide auto-OPTIMIZE sweep for a ``txlog``-format lake: every
    transaction-log table under ``base_dir`` gets ONE metadata-only
    ``optimize_if_needed`` decision — tables below the dead-ratio
    trigger cost a log fold and commit nothing, tables past it purge
    their merge-on-read debt (per-file threshold = half the trigger,
    see ``LogTable.optimize_if_needed``). The batch counterpart of the
    CDC sink's ``optimize_every=`` schedule: run it after a pipeline
    stage (``python -m transcription_lakehouse_spark.cli maintain
    --lakehouse-path <lake>``) and nobody has to remember per-table
    maintenance. Returns {artifact: report}.

    Discovery walks the LOCAL directory tree for ``_txlog`` markers
    (artifacts nest, e.g. ``catalogs/episodes``); on an object store,
    list table roots from your catalog instead and call
    ``optimize_if_needed`` per table."""
    from .ingestion import lake_format
    from .txlog import LogTable

    if lake_format(base_dir) != "txlog":
        raise ValueError(
            f"optimize_lake: {base_dir} is not a txlog-format lake"
        )
    out: dict = {}
    for root, dirs, _files in os.walk(base_dir):
        if "_txlog" in dirs:
            dirs.remove("_txlog")       # never descend into the log
            rel = os.path.relpath(root, base_dir)
            t = LogTable(spark, root)
            out[rel] = t.optimize_if_needed(
                max_dead_ratio=max_dead_ratio,
                small_file_bytes=small_file_bytes,
            )
    return out


def layout(
    df: DataFrame,
    n: int | None,
    cluster_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> DataFrame:
    """The one rewrite layout every compaction and clustered write uses.

    - ``cluster_by`` range-clusters: ``repartitionByRange`` + in-file sort
      on those columns, so every output file owns a disjoint value range
      and footer / log min/max stats prune whole files (the liquid-
      clustering direction Delta took instead of hive partition dirs).
    - ``zorder_by`` (mutually exclusive) Morton-clusters over SEVERAL
      columns (``OPTIMIZE ZORDER BY``): one min/max aggregate, cast to
      double (a timestamp scales as epoch seconds), puts each column on
      a 2^10 grid; the coordinates' bits interleave into one long that is
      range-clustered like a single column, so each file covers a narrow
      range in EVERY listed dimension. Min/max scaling is skew-sensitive
      (a heavy-hitter key crowds one cell); range-cluster 1D when one
      column dominates the workload. A column without bounds (empty or
      all-NULL input) contributes a constant coordinate.
    - otherwise ``coalesce(n)``: merges input splits with no shuffle.

    ``n`` is the output partition count; ``None`` leaves the count to the
    shuffle default (clustering) or the input (plain)."""
    if cluster_by and zorder_by:
        raise ValueError("cluster_by and zorder_by are mutually exclusive")
    ranged = list(cluster_by or [])
    if zorder_by:
        bits, grid = 10, (1 << 10) - 1
        if bits * len(zorder_by) > 62:
            raise ValueError(
                f"zorder_by: {len(zorder_by)} columns x {bits} bits exceed "
                "a 63-bit long; z-order at most 6 columns"
            )
        row = df.agg(*[
            f(c).cast("double") for c in zorder_by for f in (F.min, F.max)
        ]).head()
        z = F.lit(0).cast("long")
        for j, c in enumerate(zorder_by):
            lo, hi = row[2 * j] or 0.0, row[2 * j + 1] or 0.0
            coord = F.greatest(F.lit(0), F.least(F.lit(grid), F.floor(
                (F.col(c).cast("double") - F.lit(lo))
                / F.lit((hi - lo) or 1.0) * grid
            ).cast("long")))
            for b in range(bits):
                bit = F.shiftright(coord, b).bitwiseAND(F.lit(1))
                z = z + bit * F.lit(1 << (b * len(zorder_by) + j))
        df, ranged = df.withColumn("_z", z), ["_z"]
    if ranged:
        parts = (n,) if n is not None else ()
        df = df.repartitionByRange(*parts, *ranged).sortWithinPartitions(
            *ranged
        )
        return df.drop("_z") if zorder_by else df
    return df if n is None else df.coalesce(n)


def compact(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    cluster_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> dict:
    """Rewrite ``src_path`` into ``dst_path`` with ceil(bytes/target) files
    laid out by ``layout`` (plain ``coalesce``, ``cluster_by`` range
    clustering, or ``zorder_by`` Morton clustering — the same options as
    ``LogTable.compact``). Clustering costs one range shuffle (z-order
    one bounds aggregate more), which is the honest price of files whose
    min/max footer stats prune filtered scans.

    The file count is planned from the SOURCE's on-disk bytes (parquet in,
    parquet out — compressed sizes carry over closely), so no double scan.

    Returns {"n_files_before", "n_files_after", "rows"}. Contents are
    row-identical to the source (asserted by tests, order excepted).
    """
    before = file_stats(src_path)
    if before["n_files"] == 0:
        # an empty glob means a non-local path or a typo, NOT an empty
        # table — proceeding would plan n_out=1 and funnel everything
        # through a single task
        raise ValueError(
            f"compact: no parquet files visible at {src_path!r} "
            "(local paths only; see file_stats)"
        )
    n_out = max(1, math.ceil(before["bytes"] / target_file_bytes))
    df: DataFrame = spark.read.parquet(src_path)
    if not (cluster_by or zorder_by) and n_out > df.rdd.getNumPartitions():
        # the deliberate RDD-metadata touch: coalesce-vs-repartition needs
        # the SCAN's partition count, and the file listing is NOT a proxy
        # for it — FileSourceScanExec bin-packs small files into shared
        # partitions (1000×1 MB files scan as ~40 partitions), so a
        # file-count test would route n_out=63 into coalesce, which can
        # only shrink, silently emitting ~40 oversized files instead of
        # 63. getNumPartitions() reads planned metadata; no job runs.
        # coalesce cannot INCREASE partition count — a few huge input
        # files splitting into more, smaller outputs needs the shuffle
        out = df.repartition(n_out)
    else:
        out = layout(df, n_out, cluster_by, zorder_by)
    out.write.mode("error").parquet(dst_path)
    after = file_stats(dst_path)
    return {
        "n_files_before": before["n_files"],
        "n_files_after": after["n_files"],
        "rows": spark.read.parquet(dst_path).count(),
    }


def merge_upsert(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    updates: DataFrame,
    key_cols: list[str],
) -> dict:
    """Batch MERGE (upsert) without Delta: rows matching an update key are
    REPLACED by the update, unmatched updates are INSERTED, everything else
    carries over — written as a new immutable version at ``dst_path``
    (reference versioning convention, `writer.py`; this container has no
    Delta, so MERGE is the keep ⋃ updates relational identity).

    Raises if the update batch has MULTIPLE rows for one key — the same
    multiple-matches error Delta MERGE raises, because silently unioning
    both rows would write duplicates. The anti-join is a plain equi-join
    (no forced broadcast hint): AQE broadcasts the key set when it is
    actually small and falls back to a shuffle join for huge backfill
    batches. At 100 TB the rewrite cost is the real constraint; partition
    the table so updates cluster into few partitions and point src/dst at
    partition subtrees.

    Returns {"existing", "keys_updated", "rows_replaced", "inserted",
    "rows_out"} — rows_replaced can exceed keys_updated when the existing
    table itself holds several rows per key (all are replaced).
    """
    n_updates = updates.count()
    null_keyed = updates.filter(
        reduce(lambda a, b: a | b, [F.col(c).isNull() for c in key_cols])
    ).count()
    if null_keyed:
        # A NULL key never matches the equality anti-join, so a NULL-keyed
        # update would be silently INSERTED next to any existing NULL-keyed
        # rows — diverging from the Delta MERGE contract this mirrors.
        raise ValueError(
            f"merge_upsert: {null_keyed} update row(s) have NULL in a key "
            f"column {key_cols} — NULL keys cannot match and would "
            "duplicate instead of replace"
        )
    keys = updates.select(*key_cols).distinct()
    n_keys = keys.count()
    if n_keys != n_updates:
        raise ValueError(
            f"merge_upsert: update batch has {n_updates} rows but only "
            f"{n_keys} distinct keys — multiple rows per key make the "
            "merge ambiguous (same contract as Delta MERGE)"
        )
    existing = spark.read.parquet(src_path)
    kept = existing.join(keys, key_cols, "left_anti")
    matched = keys.join(
        existing.select(*key_cols).distinct(), key_cols, "semi"
    ).count()
    merged = kept.unionByName(updates.select(*existing.columns))
    merged.write.mode("error").parquet(dst_path)
    n_existing = existing.count()
    n_kept = kept.count()
    return {
        "existing": n_existing,
        "keys_updated": matched,
        "rows_replaced": n_existing - n_kept,
        "inserted": n_updates - matched,
        "rows_out": spark.read.parquet(dst_path).count(),
    }


def version_diff(
    spark: SparkSession,
    path_a: str,
    path_b: str,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level diff between two table versions (the audit tool the
    versioned-directory convention needs — what Delta's CDF/time-travel
    diff gives): returns keys tagged ``change`` ∈ {'added', 'removed',
    'changed'} where 'added' = in B only, 'removed' = in A only, 'changed'
    = both but compare-column content differs.

    One full-outer join on the keys comparing an xxhash64 of the compare
    columns (all non-key columns by default) — O(n) shuffle on the key,
    never a row-by-row collect. Unchanged rows are NOT emitted, so the
    result is delta-sized. Rows with duplicate keys hash-aggregate first
    (multiset semantics: a cardinality change on a key reads as
    'changed')."""
    a = spark.read.parquet(path_a)
    b = spark.read.parquet(path_b)
    if compare_cols is None:
        compare_cols = [c for c in a.columns if c not in key_cols]

    def digest(df: DataFrame, side: str) -> DataFrame:
        h = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                         for c in compare_cols])
        return df.groupBy(
            *[F.col(c).alias(f"_k_{side}_{c}") for c in key_cols]
        ).agg(
            F.sum(h.cast("decimal(38,0)")).alias(f"_h_{side}"),
            F.count(F.lit(1)).alias(f"_n_{side}"),
        )

    da, db = digest(a, "a"), digest(b, "b")
    # null-safe key equality: a NULL-keyed group must MATCH its twin on the
    # other side (plain equality would misreport identical NULL-keyed rows
    # as simultaneous added+removed) — same contract as merge_upsert's guard
    cond = None
    for c in key_cols:
        eq = da[f"_k_a_{c}"].eqNullSafe(db[f"_k_b_{c}"])
        cond = eq if cond is None else (cond & eq)
    joined = da.join(db, cond, "full_outer")
    change = (
        F.when(F.col("_n_a").isNull(), F.lit("added"))
        .when(F.col("_n_b").isNull(), F.lit("removed"))
        .when(
            (F.col("_h_a") != F.col("_h_b"))
            | (F.col("_n_a") != F.col("_n_b")),
            F.lit("changed"),
        )
        .otherwise(F.lit(None))
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"_k_a_{c}"), F.col(f"_k_b_{c}")).alias(c)
                for c in key_cols
            ],
            "change",
        )
    )


def vacuum(
    base_dir: str,
    artifact: str,
    keep_last: int = 2,
    older_than: str | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Retention for the versioned-dir convention — the VACUUM that
    completes the write_versioned / read_as_of / version_diff lifecycle
    (Delta's VACUUM analog; the reference treats snapshots as the durable
    copies, `src/lakehouse/snapshot/creator.py:99-130`, so superseded
    working versions are reclaimable).

    Deletes version directories that are BOTH outside the newest
    ``keep_last`` (by creation time, the same ordering read_as_of resolves
    against) AND — when ``older_than`` (ISO-8601) is given — created
    before that instant. The newest version is never deleted regardless of
    arguments. Returns the deleted (or would-delete, with dry_run) version
    labels. Driver-side directory I/O only."""
    import shutil
    from datetime import datetime, timezone

    from .ingestion import lake_format, list_versions

    if keep_last < 1:
        raise ValueError("vacuum: keep_last must be >= 1")
    if lake_format(base_dir) == "txlog":
        # txlog versions are log entries over a shared file set — deleting
        # a "version path" would delete the whole table; route to the
        # log-driven reclaim instead
        raise ValueError(
            "this lake is txlog-format: use "
            "LogTable(spark, <lake>/<artifact>).vacuum(retain_last=...) "
            "(CLI: `table vacuum`)"
        )
    versions = list_versions(base_dir, artifact)
    candidates = versions[:-keep_last] if keep_last < len(versions) else []
    if older_than is not None:
        cutoff = datetime.fromisoformat(older_than)
        if cutoff.tzinfo is None:
            cutoff = cutoff.replace(tzinfo=timezone.utc)

        def _ts(s: str) -> datetime:
            dt = datetime.fromisoformat(s)
            return dt if dt.tzinfo else dt.replace(tzinfo=timezone.utc)

        candidates = [v for v in candidates if _ts(v["created_at"]) < cutoff]
    removed = []
    for v in candidates:
        if not dry_run:
            shutil.rmtree(v["path"])
        removed.append(v["version"])
    return removed
