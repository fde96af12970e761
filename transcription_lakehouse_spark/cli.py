"""The `lakehouse` command line, with reference flag parity
(`/root/reference/src/lakehouse/cli/commands/*.py`): the same commands,
options, and exit-code semantics. Each lake command is a thin call into
its pipeline.py function; this is the only command-line surface.

    python -m transcription_lakehouse_spark.cli ingest DATA --pattern '*.jsonl'
    python -m transcription_lakehouse_spark.cli materialize --heuristic-beats
    python -m transcription_lakehouse_spark.cli catalog --catalog-type episodes --output-format json
    python -m transcription_lakehouse_spark.cli validate --fail-fast
    python -m transcription_lakehouse_spark.cli quality --coverage-min 75
    python -m transcription_lakehouse_spark.cli snapshot create --version v1.2.0
    python -m transcription_lakehouse_spark.cli snapshot verify SNAP_DIR
    python -m transcription_lakehouse_spark.cli maintain --max-dead-ratio 0.2
    python -m transcription_lakehouse_spark.cli vacuum spans --keep-last 2
"""

from __future__ import annotations

import json
import os

import click

_LAKE_OPT = click.option(
    "--lakehouse-path",
    default="./lakehouse",
    envvar="LAKEHOUSE_PATH",
    show_default=True,
    help="Lakehouse root directory (env: LAKEHOUSE_PATH)",
)


def _comma_list(ctx, param, value: str | None) -> list[str] | None:
    """Click callback for comma-separated column options: items are
    stripped, empty ones dropped; an unset or empty option is None."""
    return [c.strip() for c in (value or "").split(",") if c.strip()] or None


def _spark(cmd: str):
    from .session import get_spark

    return get_spark(app_name=f"lakehouse-{cmd}")


def _echo(obj: dict, output_format: str = "json") -> None:
    if output_format == "json":
        click.echo(json.dumps(obj, indent=2, sort_keys=True, default=str))
    else:
        for k, v in obj.items():
            click.echo(f"{k}: {v}")


@click.group()
def cli() -> None:
    """Transcription lakehouse — Spark engine."""


@cli.command()
@click.argument("input_path", type=click.Path(exists=True))
@_LAKE_OPT
@click.option("--pattern", default="*.jsonl", show_default=True,
              help="Glob pattern for matching transcript files")
@click.option("--version", default="v1", show_default=True,
              help="Version for output data")
@click.option("--dry-run", is_flag=True,
              help="Validate inputs without writing any outputs")
@click.option("--incremental", is_flag=True,
              help="Process only new episodes not already in the lakehouse")
@click.option("--skip-invalid/--fail-on-invalid", default=True,
              show_default=True,
              help="Skip invalid utterances vs fail on first error")
@click.option("--update-catalog", is_flag=True,
              help="Regenerate episode and speaker catalogs after ingestion")
@click.option("--fmt", type=click.Choice(["dirs", "txlog"]), default=None,
              help="Storage convention for a NEW lake: copy-per-version "
                   "dirs (default) or a transaction-log table per artifact "
                   "(atomic commits, time travel, CDF)")
def ingest(input_path, lakehouse_path, pattern, version, dry_run,
           incremental, skip_invalid, update_catalog, fmt):
    """Import transcript files (reference `cli/commands/ingest.py`)."""
    from .ingestion import artifact_exists
    from .ingestion import ingest as _ingest
    from .ingestion import read_versioned
    from .sources.transcripts import read_jsonl, with_default_episode_id

    spark = _spark("ingest")
    glob_path = os.path.join(input_path, pattern) if os.path.isdir(
        input_path
    ) else input_path
    raw = with_default_episode_id(read_jsonl(spark, glob_path))

    from .ckpt import cut_lineage
    from .ingestion import incremental_filter, seen_episode_ids

    existing = None
    if incremental and artifact_exists(lakehouse_path, "normalized", version):
        # the batch's distinct episode ids are bounded (a batch holds a
        # few episodes) — on a txlog lake they PROBE the log's per-file
        # blooms, so the existence check opens only bloom-matched files
        # instead of sweeping every live file's episode_id column
        batch_ids = [
            r["episode_id"]
            for r in raw.select("episode_id").distinct()
            .limit(4097).collect()
        ]
        if len(batch_ids) > 4096:
            batch_ids = None  # over-cap: the full column read wins
        # pin ONLY the matched episode ids (not the full table) before
        # writing to the same path: cheap, and the plan stays independent
        # of the sink's file listing
        existing = cut_lineage(seen_episode_ids(
            spark, lakehouse_path, "normalized", version, batch_ids
        ))
        # validation/dry-run stats must describe what WOULD be ingested —
        # the post-filter delta — not episodes already in the lake
        raw = incremental_filter(raw, existing)

    if dry_run or not skip_invalid:
        # ONE validation pass (not a count job per side): total, invalid
        # count, and a sample failure reason from a single aggregate
        import pyspark.sql.functions as F

        from .ingestion import validation_errors

        stats = raw.select(
            F.count(F.lit(1)).alias("total"),
            F.sum((F.size(validation_errors(raw)) > 0).cast("long")).alias(
                "invalid"
            ),
            F.first(
                F.when(
                    F.size(validation_errors(raw)) > 0,
                    F.concat_ws("; ", validation_errors(raw)),
                ),
                ignorenulls=True,
            ).alias("first_error"),
        ).head()
        n_bad = int(stats["invalid"] or 0)
        if dry_run:
            out = {
                "dry_run": True,
                "valid": int(stats["total"]) - n_bad,
                "invalid": n_bad,
            }
            _echo(out)
            raise SystemExit(0 if (skip_invalid or n_bad == 0) else 1)
        if n_bad:
            raise click.ClickException(
                f"--fail-on-invalid: {n_bad} invalid utterances "
                f"(first reasons: {stats['first_error']})"
            )
    out = _ingest(spark, raw, lakehouse_path, version, existing=existing,
                  fmt=fmt)
    if update_catalog:
        from .pipeline import catalog as _catalog

        out["catalogs"] = _catalog(spark, lakehouse_path, version)
    _echo(out)


@cli.command()
@_LAKE_OPT
@click.option("--version", default="v1", show_default=True)
@click.option("--use-embeddings/--heuristic-beats", default=False,
              show_default=True,
              help="Embedding-boundary beats (needs a model) vs heuristic")
def materialize(lakehouse_path, version, use_embeddings):
    """Derive spans, beats, and sections (`cli/commands/materialize.py`;
    the reference's --spans-only/--beats-only staging collapses here —
    Spark's lazy plan only computes what the requested sinks need)."""
    from .pipeline import materialize as _materialize

    spark = _spark("materialize")
    _echo(
        _materialize(
            spark, lakehouse_path, use_embeddings=use_embeddings,
            version=version,
        )
    )


@cli.command()
@_LAKE_OPT
@click.option("--version", default="v1", show_default=True)
@click.option("--catalog-type",
              type=click.Choice(["episodes", "speakers", "all"]),
              default="all", show_default=True)
@click.option("--output-format", type=click.Choice(["console", "json"]),
              default="console", show_default=True)
@click.option("--save-catalog", is_flag=True, help="Save catalog to files")
@click.option("--detailed", is_flag=True, help="Show full catalog rows")
@click.option("--episode-id", default=None,
              help="Show detailed information for a specific episode")
@click.option("--speaker-name", default=None,
              help="Show detailed information for a specific speaker")
@click.option("--rankings", is_flag=True,
              help="Show speaker rankings by activity")
@click.option("--statistics", is_flag=True, help="Show overall statistics")
@click.option("--limit", "row_limit", type=int, default=100, show_default=True,
              help="Max rows collected for display with --detailed")
@click.option("--all", "all_rows", is_flag=True,
              help="Collect every catalog row to the driver (no display cap)")
def catalog(lakehouse_path, version, catalog_type, output_format,
            save_catalog, detailed, episode_id, speaker_name, rankings,
            statistics, row_limit, all_rows):
    """Generate and display episode/speaker catalogs
    (`cli/commands/catalog.py`). Display collects are CAPPED by default
    (20 rows; --detailed raises the cap to --limit, default 100) so a
    100×-scale catalog can't be collected to the driver by accident —
    pass --all to deliberately lift the cap. --save-catalog always
    persists the FULL catalog regardless of the display cap."""
    import pyspark.sql.functions as F

    from .catalogs.episodes import episode_catalog
    from .catalogs.speakers import speaker_catalog
    from .ingestion import read_versioned, write_counted

    spark = _spark("catalog")
    utterances = read_versioned(spark, lakehouse_path, "normalized", version)
    out: dict = {}
    limit = None if all_rows else (row_limit if detailed else 20)

    def persist(df, artifact: str) -> int | None:
        """Save the FULL catalog (filters shape display only) and return
        its row count: observed on the write when it is saved, a count()
        only for --statistics without --save-catalog. Overall statistics
        come from the UNFILTERED catalog — an --episode-id display filter
        must not shrink n_episodes to 1."""
        if save_catalog:
            return write_counted(df, lakehouse_path, artifact, version)
        return df.count() if statistics else None

    if catalog_type in ("episodes", "all"):
        eps = episode_catalog(utterances)
        n = persist(eps, "catalogs/episodes")
        if statistics:
            out["episode_stats"] = {"n_episodes": n}
        if episode_id:
            eps = eps.filter(F.col("episode_id") == episode_id)
        rows = (eps.limit(limit) if limit else eps).collect()
        out["episodes"] = [r.asDict() for r in rows]
    if catalog_type in ("speakers", "all"):
        spk = speaker_catalog(utterances)
        n = persist(spk, "catalogs/speakers")
        if statistics:
            out["speaker_stats"] = {"n_speakers": n}
        if speaker_name:
            spk = spk.filter(F.col("speaker") == speaker_name)
        if rankings:
            spk = spk.orderBy(F.desc("total_speaking_time"))
        rows = (spk.limit(limit) if limit else spk).collect()
        out["speakers"] = [r.asDict() for r in rows]
    _echo(out, "json" if output_format == "json" else "console")


@cli.command()
@_LAKE_OPT
@click.option("--version", default="v1", show_default=True)
@click.option("--output-format", type=click.Choice(["console", "json"]),
              default="console", show_default=True)
@click.option("--fail-fast", is_flag=True,
              help="Stop validating after the first artifact with failures")
def validate(lakehouse_path, version, output_format, fail_fast):
    """Integrity battery over materialized artifacts
    (`cli/commands/validate.py`)."""
    from .pipeline import validate as _validate

    spark = _spark("validate")
    out = _validate(spark, lakehouse_path, version, fail_fast=fail_fast)
    if not out["ok"]:
        failed = [k for k, v in out.get("checks", {}).items() if v]
        out["first_failure"] = failed[0] if failed else None
    _echo(out, "json" if output_format == "json" else "console")
    raise SystemExit(0 if out["ok"] else 1)


@cli.command()
@_LAKE_OPT
@click.option("--version", default="v1", show_default=True)
@click.option("--output-dir", default=None,
              help="Report directory (default: <lake>/quality_reports)")
@click.option("--coverage-min", type=float, default=None,
              help="Override min coverage %% threshold")
@click.option("--span-length-min", type=float, default=None)
@click.option("--span-length-max", type=float, default=None)
@click.option("--beat-length-min", type=float, default=None)
@click.option("--beat-length-max", type=float, default=None)
def quality(lakehouse_path, version, output_dir, coverage_min,
            span_length_min, span_length_max, beat_length_min,
            beat_length_max):
    """7-category quality assessment + report tree
    (`cli/commands/quality.py`); threshold flags map onto the assessor's
    Thresholds and are RECORDED in the report (the Assessment carries the
    applied thresholds)."""
    from .pipeline import quality as _quality
    from .quality.assessor import Thresholds

    def given(flag, default):
        return default if flag is None else flag

    d = Thresholds()
    th = Thresholds(
        min_coverage_pct=given(coverage_min, d.min_coverage_pct),
        span_len_range=(given(span_length_min, d.span_len_range[0]),
                        given(span_length_max, d.span_len_range[1])),
        beat_len_range=(given(beat_length_min, d.beat_len_range[0]),
                        given(beat_length_max, d.beat_len_range[1])),
    )
    out = _quality(_spark("quality"), lakehouse_path, version,
                   thresholds=th, report_dir=output_dir)
    _echo(out)
    raise SystemExit(1 if out["status"] == "RED" else 0)


@cli.command()
@_LAKE_OPT
@click.option("--max-dead-ratio", type=float, default=0.2, show_default=True,
              help="Table-level dead-row ratio that triggers a table's "
                   "OPTIMIZE")
def maintain(lakehouse_path, max_dead_ratio):
    """Lake-wide auto-OPTIMIZE of a txlog lake: one metadata-only
    decision per table, commits only past the trigger."""
    from .maintenance import optimize_lake

    try:
        out = optimize_lake(_spark("maintain"), lakehouse_path,
                            max_dead_ratio=max_dead_ratio)
    except ValueError as exc:  # a dirs lake has no tables to optimize
        raise click.ClickException(str(exc)) from exc
    _echo(out)


@cli.group()
def snapshot() -> None:
    """Immutable checksum-manifested snapshots
    (`cli/commands/snapshot.py`)."""


@snapshot.command("create")
@_LAKE_OPT
@click.option("--snapshot-root", default=None,
              help="Snapshot root (default: <lake>/snapshots)")
@click.option("--version", "version_override", default="v1.0.0",
              show_default=True, help="Snapshot version label")
@click.option("--lakehouse-version", default="v1", show_default=True,
              help="Lakehouse artifact version to snapshot")
@click.option("--allow-red", is_flag=True,
              help="Force snapshotting a RED lake (manifest stays flagged)")
def snapshot_create(lakehouse_path, snapshot_root, version_override,
                    lakehouse_version, allow_red):
    from .pipeline import snapshot as _snapshot

    spark = _spark("snapshot")
    out = _snapshot(
        spark, lakehouse_path, version_override, allow_red=allow_red,
        snapshot_root=snapshot_root, lakehouse_version=lakehouse_version,
    )
    _echo(out)
    raise SystemExit(0 if out["verified"] else 1)


@snapshot.command("verify")
@click.argument("snapshot_dir", type=click.Path(exists=True))
def snapshot_verify(snapshot_dir):
    from .snapshot import verify_snapshot

    problems = verify_snapshot(snapshot_dir)
    _echo({"snapshot": snapshot_dir, "verified": not problems,
           "problems": problems})
    raise SystemExit(0 if not problems else 1)


@cli.command("index-drift")
@click.argument("index_path", type=click.Path(exists=True))
@click.option("--current-parquet", type=click.Path(exists=True),
              default=None,
              help="Score THIS corpus (parquet of id + embedding) "
                   "against the trained quantizer instead of the "
                   "index's stored rows — e.g. a candidate batch "
                   "before appending it")
@click.option("--psi-threshold", type=float, default=0.25,
              show_default=True)
def index_drift(index_path, current_parquet, psi_threshold):
    """Quantizer-drift report for a stored IVF index: occupancy PSI vs
    the training baseline + retrain recommendation (see also
    `ivf_incremental_update`, which acts on it automatically)."""
    from .indexing import ivf_drift_report

    spark = _spark("index-drift")
    cur = (spark.read.parquet(current_parquet)
           if current_parquet else None)
    _echo(ivf_drift_report(spark, index_path, current=cur,
                           psi_threshold=psi_threshold))


@cli.command()
@click.argument("artifact")
@_LAKE_OPT
@click.option("--keep-last", type=int, default=2, show_default=True)
@click.option("--older-than", default=None,
              help="Only delete versions created before this ISO timestamp")
@click.option("--dry-run", is_flag=True)
def vacuum(artifact, lakehouse_path, keep_last, older_than, dry_run):
    """Reclaim superseded artifact versions (beyond the reference —
    completes the write/read_as_of/diff lifecycle)."""
    from .maintenance import vacuum as _vacuum

    removed = _vacuum(
        lakehouse_path, artifact, keep_last=keep_last,
        older_than=older_than, dry_run=dry_run,
    )
    _echo({"artifact": artifact, "dry_run": dry_run, "removed": removed})


@cli.group()
def table() -> None:
    """Transaction-log tables (Delta-class semantics on plain parquet —
    see `txlog.py`)."""


@table.command("create")
@click.argument("path", type=click.Path())
@click.argument("source_parquet", type=click.Path(exists=True))
def table_create(path, source_parquet):
    """Import a parquet dir/file as version 0 of a new LogTable."""
    from .txlog import LogTable

    spark = _spark("table-create")
    t = LogTable(spark, path)
    if t.version() >= 0:
        raise click.ClickException(f"{path} already has commits")
    v = t.append(spark.read.parquet(source_parquet))
    _echo({"path": path, "version": v, "rows": t.read().count()})


@table.command("merge")
@click.argument("path", type=click.Path(exists=True))
@click.argument("updates_parquet", type=click.Path(exists=True))
@click.option("--key", required=True, help="Merge key column")
@click.option("--dv", is_flag=True,
              help="Merge-on-read: mark replaced rows in deletion "
                   "vectors instead of rewriting touched files")
@click.option("--optimize-after", type=float, default=None,
              help="Auto-OPTIMIZE trigger: after the merge, purge "
                   "merge-on-read debt when the table's dead-row ratio "
                   "reaches this value (one metadata-only check; "
                   "nothing commits below it)")
def table_merge(path, updates_parquet, key, dv, optimize_after):
    """Upsert (MERGE): update matched keys whole-row, insert new keys —
    rewrites only the files holding matched keys."""
    from .txlog import LogTable

    spark = _spark("table-merge")
    t = LogTable(spark, path, deletion_vectors=dv,
                 auto_optimize={"max_dead_ratio": optimize_after}
                 if optimize_after is not None else None)
    _echo(t.merge(spark.read.parquet(updates_parquet), key=key))


@table.command("delete")
@click.argument("path", type=click.Path(exists=True))
@click.argument("condition")
def table_delete(path, condition):
    """Delete rows matching a SQL condition (file-pruned rewrite)."""
    from .txlog import LogTable

    t = LogTable(_spark("table-delete"), path)
    _echo(t.delete(condition))


@table.command("history")
@click.argument("path", type=click.Path(exists=True))
def table_history(path):
    """Show a table's commit log."""
    from .txlog import LogTable

    t = LogTable(_spark("table-history"), path)
    for h in t.history():
        click.echo(json.dumps(h, sort_keys=True))  # one line per commit


@table.command("compact")
@click.argument("path", type=click.Path(exists=True))
@click.option("--target-files", type=int, default=1, show_default=True)
@click.option("--cluster-by", default=None, callback=_comma_list,
              help="Comma-separated columns: range-cluster so each file "
                   "owns a disjoint value range (sharp scan skipping)")
@click.option("--zorder-by", default=None, callback=_comma_list,
              help="Comma-separated columns: Morton-order clustering — "
                   "scans filtered on ANY listed column prune")
def table_compact(path, target_files, cluster_by, zorder_by):
    """OPTIMIZE: coalesce the live file set (metadata swap; prior
    versions still time-travel until vacuumed)."""
    from .txlog import LogTable

    t = LogTable(_spark("table-compact"), path)
    _echo(t.compact(target_files=target_files, cluster_by=cluster_by,
                    zorder_by=zorder_by))


@table.command("restore")
@click.argument("path", type=click.Path(exists=True))
@click.option("--version", "version_", type=int, default=None,
              help="RESTORE ... TO VERSION AS OF")
@click.option("--timestamp", default=None,
              help="RESTORE ... TO TIMESTAMP AS OF (ISO-8601; newest "
                   "commit at or before the instant)")
def table_restore(path, version_, timestamp):
    """Roll the table back to a prior snapshot in one metadata-only
    commit (history preserved; constraints rewind with the data)."""
    from .txlog import LogTable

    if (version_ is None) == (timestamp is None):
        raise click.UsageError("pass exactly one of --version/--timestamp")
    t = LogTable(_spark("table-restore"), path)
    if timestamp is not None:
        version_ = t.version_as_of(timestamp)
    _echo(t.restore(version_))


@table.command("detail")
@click.argument("path", type=click.Path(exists=True))
def table_detail(path):
    """DESCRIBE DETAIL: files/bytes, deletion-vector debt (the inputs
    an OPTIMIZE schedule decides on) and active CHECK constraints —
    one metadata-only log read, no data files opened."""
    from .txlog import LogTable

    _echo(LogTable(_spark("table-detail"), path).detail())


@table.command("constraint")
@click.argument("path", type=click.Path(exists=True))
@click.option("--add", "add_", nargs=2, default=None,
              metavar="NAME EXPR",
              help="ADD CONSTRAINT NAME CHECK (EXPR): validates existing "
                   "rows first, then enforces on every future write")
@click.option("--drop", default=None, metavar="NAME",
              help="Remove a constraint (no-op if absent)")
def table_constraint(path, add_, drop):
    """List, add, or drop CHECK constraints (Delta ALTER TABLE ... ADD
    CONSTRAINT semantics; NULL passes, violation = FALSE)."""
    from .txlog import LogTable

    t = LogTable(_spark("table-constraint"), path)
    if add_ and drop:
        raise click.UsageError("--add and --drop are mutually exclusive")
    if add_:
        _echo(t.add_constraint(add_[0], add_[1]))
    elif drop:
        _echo(t.drop_constraint(drop))
    else:
        _echo(t.constraints())


@table.command("optimize")
@click.argument("path", type=click.Path(exists=True))
@click.option("--min-dead-ratio", type=float, default=0.2,
              show_default=True,
              help="Materialize deletion vectors on files whose dead-row "
                   "fraction reaches this threshold (REORG-PURGE)")
@click.option("--small-file-bytes", type=int, default=None,
              help="Also bin-pack live files below this size into "
                   "~2x-threshold outputs (Delta OPTIMIZE bin-packing)")
@click.option("--cluster-by", default=None, callback=_comma_list,
              help="Comma-separated columns: range-cluster the rewritten "
                   "rows so their min/max stats come back sharp")
@click.option("--zorder-by", default=None, callback=_comma_list,
              help="Comma-separated columns: Morton-order the rewritten "
                   "rows instead")
@click.option("--if-needed", is_flag=True,
              help="Run only when the TABLE's detail() dead-row ratio "
                   "reaches --max-dead-ratio (one metadata-only read "
                   "decides; below it nothing commits) — the auto-policy "
                   "entry for batch schedules")
@click.option("--max-dead-ratio", type=float, default=0.2,
              show_default=True,
              help="Table-level trigger for --if-needed; the per-file "
                   "purge threshold then defaults to half of it "
                   "(hysteresis)")
def table_optimize(path, min_dead_ratio, small_file_bytes, cluster_by,
                   zorder_by, if_needed, max_dead_ratio):
    """Scheduled merge-on-read maintenance: purge DV-heavy files, pack
    small ones, re-cluster — one snapshot-atomic commit; a no-op when
    nothing qualifies (safe on a timer)."""
    from .txlog import LogTable

    t = LogTable(_spark("table-optimize"), path)
    kwargs = dict(small_file_bytes=small_file_bytes, cluster_by=cluster_by,
                  zorder_by=zorder_by)
    if if_needed:
        _echo(t.optimize_if_needed(max_dead_ratio=max_dead_ratio,
                                   **kwargs))
    else:
        _echo(t.optimize(min_dead_ratio=min_dead_ratio, **kwargs))


@table.command("clustering")
@click.argument("path", type=click.Path(exists=True))
@click.option("--columns", required=True, callback=_comma_list,
              help="Comma-separated columns to audit")
@click.option("--max-overlap", type=float, default=4.0, show_default=True,
              help="Mean files-overlapping-a-file past which a "
                   "re-cluster is recommended")
def table_clustering(path, columns, max_overlap):
    """Metadata-only clustering health: per-column overlap depth of the
    live files' min/max ranges (the data-skipping sharpness signal);
    remedy is `table compact --cluster-by` / `optimize --zorder-by`."""
    from .txlog import LogTable

    t = LogTable(_spark("table-clustering"), path)
    _echo(t.clustering_health(columns, max_overlap=max_overlap))


@table.command("vacuum")
@click.argument("path", type=click.Path(exists=True))
@click.option("--retain-last", type=int, default=2, show_default=True)
@click.option("--remove-orphans", is_flag=True,
              help="Also sweep data files no commit references (crashed "
                   "or lost-race writers). Off by default: an in-flight "
                   "writer's staged files look identical to orphans.")
@click.option("--dry-run", is_flag=True,
              help="Report what would be deleted (paths + counts), "
                   "touch nothing")
def table_vacuum(path, retain_last, remove_orphans, dry_run):
    """Delete files no retained snapshot references."""
    from .txlog import LogTable

    t = LogTable(_spark("table-vacuum"), path)
    _echo(t.vacuum(retain_last=retain_last, remove_orphans=remove_orphans,
                   dry_run=dry_run))


@table.command("matview")
@click.argument("source_path", type=click.Path(exists=True))
@click.argument("view_path", type=click.Path())
@click.option("--group-by", required=True, callback=_comma_list,
              help="Comma-separated group columns")
@click.option("--sum", "sum_cols", default="", callback=_comma_list,
              help="Comma-separated columns maintained as sum_<col> "
                   "(avg derived at read); count(*) is always kept")
@click.option("--full", is_flag=True,
              help="Full recompute + overwrite (the escape hatch after "
                   "a source schema change); re-bases the watermark")
def table_matview(source_path, view_path, group_by, sum_cols, full):
    """Refresh (bootstrapping if absent) an incrementally-maintained
    count/sum GROUP BY view from SOURCE_PATH's change feed — reads only
    files the source log touched since the last refresh; idempotent via
    the (app, source_version) txn watermark, so re-running a cron
    refresh never double-counts."""
    from .matview import IncrementalAggView
    from .txlog import LogTable

    spark = _spark("table-matview")
    mv = IncrementalAggView(
        spark, LogTable(spark, source_path), view_path,
        group_by=group_by, sum_cols=sum_cols,
    )
    _echo(mv.full_refresh() if full else mv.refresh())


@cli.command()
@click.argument("documents_path", type=click.Path(exists=True))
@click.argument("output_dir", type=click.Path())
@click.option("--shards", type=int, default=8, show_default=True,
              help="Shard count (pick ~ the loader's read parallelism)")
@click.option("--seed", default="epoch0", show_default=True,
              help="Placement salt; change per epoch to reshuffle")
@click.option("--max-repeats", type=int, default=3, show_default=True,
              help="Cap on per-source upsampling repeats")
@click.option("--min-quality", type=float, default=0.5, show_default=True,
              help="quality_score floor from the committed linear model")
@click.option("--append", is_flag=True,
              help="Incremental epoch: anti-join doc ids already placed in "
                   "OUTPUT_DIR, curate only the new documents, and add them "
                   "as NEW shard files (prior batches' files are never "
                   "rewritten; shard_pos continues past each shard's max). "
                   "Re-running on unchanged input is a no-op. Vary --seed "
                   "per epoch to reshuffle new batches.")
@click.option("--order", type=click.Choice(["shuffled", "curriculum"]),
              default="shuffled", show_default=True,
              help="shuffled = salted-hash order (training_order); "
                   "curriculum = quality-score tiers served clean-first "
                   "within every shard, salted-shuffled inside each tier "
                   "(curriculum_order). With --append the curriculum is "
                   "PER EPOCH: each appended batch serves its own tiers "
                   "0..N-1 after all prior batches' rows — the global "
                   "shard order is epoch-blocked, not globally "
                   "tier-sorted (each --append is one curriculum epoch).")
def curate(documents_path, output_dir, shards, seed, max_repeats,
           min_quality, append, order):
    """Curate a documents table into trainer-ready ordered shards (beyond
    the reference — the round-5 training-pipeline stages composed):
    committed-model quality gate → per-source mixture repeats →
    deterministic salted placement → ordered shard parquet write.

    ``--append`` is the incremental form (the reference's new-episodes
    anti-join + index-append semantics,
    `src/lakehouse/cli/commands/ingest.py:278-307`,
    `src/lakehouse/indexing/incremental.py:200-276`, recomposed for
    training shards). Every run records ``_curation_manifest.json``
    (n_shards / order / per-epoch seeds) in OUTPUT_DIR; ``--append``
    validates against it so a mismatched --shards or --order is refused
    instead of silently re-hashing docs into an inconsistent layout.

    Curriculum + append contract: each appended batch is ONE curriculum
    epoch — its slice of every shard is tier-nondecreasing, served after
    all prior batches' rows (epoch-blocked order). The schedule is NOT
    re-sorted globally across epochs: prior shard files are immutable by
    design, and a trainer consuming epochs in sequence sees clean-first
    order within each epoch, which is the curriculum contract per pass
    over the data."""
    import json as _jsonmod
    import os as _os

    import pyspark.sql.functions as F

    from ._quality_model import BIAS, WEIGHTS
    from .ckpt import cut_lineage
    from .operators.ordering import training_order, write_training_shards
    from .operators.quality_model import quality_classifier

    spark = _spark("curate")
    docs = spark.read.parquet(documents_path)
    base = None
    manifest_path = _os.path.join(output_dir, "_curation_manifest.json")
    has_prior = append and _os.path.isdir(output_dir) and any(
        n.startswith("shard=") for n in _os.listdir(output_dir)
    )
    manifest = None
    if has_prior:
        shard_idxs = [
            int(n.split("=", 1)[1])
            for n in _os.listdir(output_dir)
            if n.startswith("shard=")
        ]
        if _os.path.exists(manifest_path):
            with open(manifest_path) as fh:
                manifest = _jsonmod.load(fh)
            if manifest["n_shards"] != shards:
                raise click.ClickException(
                    f"--append with --shards {shards} but OUTPUT_DIR was "
                    f"curated with --shards {manifest['n_shards']} "
                    "(recorded in _curation_manifest.json): a different "
                    "shard count re-hashes doc placement mod the new "
                    "count and breaks the deterministic-placement "
                    "contract across epochs"
                )
            if manifest["order"] != order:
                raise click.ClickException(
                    "--append must keep the same --order as the existing "
                    f"shards: OUTPUT_DIR was curated with --order "
                    f"{manifest['order']} (recorded in "
                    f"_curation_manifest.json), this run passed "
                    f"--order {order}"
                )
        elif shard_idxs and max(shard_idxs) >= shards:
            # legacy layout without a manifest: a shard=K dir at K >=
            # --shards proves the counts differ (the converse — all dirs
            # < shards — cannot, since hash-mod may leave shards empty)
            raise click.ClickException(
                f"--append with --shards {shards} but OUTPUT_DIR holds "
                f"shard={max(shard_idxs)}: the existing layout used a "
                "larger shard count"
            )
        existing = spark.read.parquet(output_dir)
        # left-anti on placed ids: only genuinely new docs are scored,
        # repeated, and placed — the incremental contract. The checkpoint
        # is LOAD-BEARING for that contract, not a cache: Catalyst pushes
        # the deterministic quality filter (the full tokenizing sigmoid)
        # BELOW this anti-join, silently re-scoring the whole input
        # corpus every epoch (measured: a 5k-doc delta cost 99 s against
        # a 100k store). Materializing the delta pins scoring to it.
        docs = cut_lineage(docs.join(
            existing.select("doc_id").distinct(), "doc_id", "left_anti"
        ))
        # per-shard position offsets (n_shards rows — broadcast) so the
        # appended batch's shard_pos continues the existing order
        base = existing.groupBy("shard").agg(
            F.max("shard_pos").alias("_base")
        )
    # with_n_tokens reuses the scorer's tokenization for the mixture
    # weights — one regexp-tokenizing projection over the corpus, not two
    scored = quality_classifier(
        docs, "doc_id", "text", WEIGHTS, BIAS, extra_cols=["source"],
        with_n_tokens=True,
    )
    # materialize the scored gate ONCE: everything downstream (mixture
    # totals, ordering, the shard write, and the summary counts) re-reads
    # this narrow 4-column relation instead of re-running the tokenizing
    # scorer per consumer (the counts alone re-ran it 3x before)
    kept = cut_lineage(scored.filter(F.col("quality_score") >= min_quality).select(
        "doc_id", "source", "n_tokens", "quality_score"
    ))
    per_src = kept.groupBy("source").agg(F.sum("n_tokens").alias("n_tokens"))
    tot = per_src.agg(
        F.sum("n_tokens").alias("_tot"), F.count(F.lit(1)).alias("_n_src")
    )
    factor = (F.lit(1.0) / F.col("_n_src")) / (
        F.col("n_tokens") / F.col("_tot").cast("double")
    )
    reps = per_src.join(F.broadcast(tot)).select(
        "source",
        F.least(F.ceil(factor), F.lit(max_repeats).cast("long"))
        .alias("_repeats"),
    )
    src = kept.join(F.broadcast(reps), "source")
    if order == "curriculum":
        # clean-first tiers inside every shard; tier kept in the shard
        # files as serving-order provenance
        from .operators.ordering import curriculum_order

        ordered = curriculum_order(
            src, "doc_id", "quality_score",
            keep_cols=["source"],
            repeats=F.col("_repeats"),
            n_shards=shards,
            seed=seed,
        )
    else:
        ordered = training_order(
            src,
            "doc_id",
            keep_cols=["source"],
            repeats=F.col("_repeats"),
            n_shards=shards,
            seed=seed,
        )
    out_cols = ordered.columns
    if base is not None:
        existing_cols = set(existing.columns)
        if existing_cols != set(out_cols):
            raise click.ClickException(
                "--append must keep the same --order as the existing "
                f"shards (existing columns {sorted(existing_cols)} vs "
                f"this run's {sorted(out_cols)})"
            )
        ordered = (
            ordered.join(F.broadcast(base), "shard", "left")
            .withColumn(
                "shard_pos",
                F.col("shard_pos") + F.coalesce(F.col("_base"), F.lit(0)),
            )
            .select(*out_cols)
        )
    write_training_shards(
        ordered, output_dir, n_shards=shards,
        mode="append" if has_prior else "overwrite",
    )
    n_batch = ordered.count()
    # provenance manifest: --append validates layout params against it.
    # A no-op re-run (0 placed) records no epoch, keeping re-runs
    # byte-idempotent manifest included.
    epochs = list((manifest or {}).get("epochs", [])) if has_prior else []
    if n_batch > 0 or not has_prior:
        epochs.append({"seed": seed, "n_placed": n_batch})
    with open(manifest_path, "w") as fh:
        _jsonmod.dump(
            {"n_shards": shards, "order": order, "epochs": epochs},
            fh, indent=1, sort_keys=True,
        )
    placed = spark.read.parquet(output_dir)
    _echo({
        "n_documents": docs.count(),
        "n_kept": kept.count(),
        "n_placed_batch": n_batch,
        "n_placed": placed.count(),
        "n_shards": placed.select("shard").distinct().count(),
        "output_dir": output_dir,
        "seed": seed,
        "append": bool(has_prior),
        "epoch": len(epochs),
    })


if __name__ == "__main__":
    cli()
