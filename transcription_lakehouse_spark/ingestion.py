"""Validation + normalization (F1-F3, W1) and the versioned parquet sink
(S6-S10) — the Spark reshape of `/root/reference/src/lakehouse/ingestion/`.

One job replaces the reference's per-file Python loop (SURVEY §3.1): read →
validate/split → normalize (time-sort, positional deterministic IDs,
duration) → write. The only shuffle is the per-episode position window.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession, Window

from .ids import utterance_id
from .schemas import UTTERANCE_SCHEMA, validate_schema

__all__ = [
    "validation_errors",
    "split_valid",
    "normalize",
    "write_versioned",
    "write_counted",
    "read_versioned",
    "read_as_of",
    "list_versions",
    "incremental_filter",
    "lake_format",
    "set_lake_format",
    "artifact_exists",
]

_LAKE_FORMAT_FILE = "_lake_format.json"


def lake_format(base_dir: str) -> str:
    """The lake's storage convention: ``"dirs"`` (copy-per-version
    directories, the reference's scheme) or ``"txlog"`` (every artifact is
    a transaction-log table, `txlog.LogTable` — one mechanism for as-of
    reads, CDF, compaction, and vacuum). Recorded once at lake creation
    in ``_lake_format.json``; absent marker means ``dirs`` so existing
    lakes keep working unchanged."""
    p = os.path.join(base_dir, _LAKE_FORMAT_FILE)
    if os.path.exists(p):
        import json as _json

        with open(p) as f:
            return _json.load(f)["format"]
    return "dirs"


def set_lake_format(base_dir: str, fmt: str) -> None:
    """Stamp a NEW lake's format. Re-stamping the same format is a no-op;
    flipping an existing lake is refused (the two conventions lay files
    out incompatibly — migrate by re-ingesting). A marker-less lake that
    already holds dirs-convention artifacts counts as an existing
    ``dirs`` lake: stamping it ``txlog`` would make every previously
    ingested artifact silently invisible, so that is refused too."""
    if fmt not in ("dirs", "txlog"):
        raise ValueError(f"unknown lake format {fmt!r} (dirs|txlog)")
    cur_marker = os.path.join(base_dir, _LAKE_FORMAT_FILE)
    if os.path.exists(cur_marker):
        cur = lake_format(base_dir)
        if cur != fmt:
            raise ValueError(
                f"lake at {base_dir} is already {cur!r}; cannot flip to "
                f"{fmt!r} in place"
            )
        return
    if fmt == "txlog" and _has_dirs_artifacts(base_dir):
        raise ValueError(
            f"lake at {base_dir} already holds dirs-convention artifacts "
            "(version dirs with parquet); stamping it 'txlog' would hide "
            "them — migrate by re-ingesting into a fresh lake"
        )
    import json as _json

    os.makedirs(base_dir, exist_ok=True)
    with open(cur_marker, "w") as f:
        _json.dump({"format": fmt}, f)


def _has_dirs_artifacts(base_dir: str) -> bool:
    """True when a marker-less lake already contains dirs-convention
    artifacts: some <artifact>/<version>/ holding parquet (or a
    _version_info.json stamp) and no _txlog."""
    import glob as _glob

    if not os.path.isdir(base_dir):
        return False
    for art in os.listdir(base_dir):
        art_dir = os.path.join(base_dir, art)
        if art.startswith((".", "_")) or not os.path.isdir(art_dir):
            continue
        if os.path.isdir(os.path.join(art_dir, "_txlog")):
            continue
        for vdir in _glob.glob(os.path.join(art_dir, "*")):
            if not os.path.isdir(vdir):
                continue
            if os.path.exists(os.path.join(vdir, "_version_info.json")) or \
                    _glob.glob(os.path.join(vdir, "*.parquet")):
                return True
    return False


def artifact_exists(base_dir: str, artifact: str, version: str = "v1") -> bool:
    """Whether the artifact has been materialized UNDER THIS LABEL —
    format-aware: a txlog artifact exists when some commit carries the
    label (mirroring the dirs convention, where each label is its own
    directory — `read_versioned` on a missing label then degrades the
    same way on both formats instead of crashing on txlog)."""
    if lake_format(base_dir) == "txlog":
        from .txlog import LogTable

        log_dir = os.path.join(base_dir, artifact, "_txlog")
        if not os.path.isdir(log_dir):
            return False
        t = LogTable(None, os.path.join(base_dir, artifact))
        return any(
            c.get("params", {}).get("label") == version
            for c in t._commits_no_spark()
        )
    return os.path.isdir(os.path.join(base_dir, artifact, version))


def _txlog_table(spark, base_dir: str, artifact: str):
    from .txlog import LogTable

    # ONLY the normalized table blooms episode_id: it is the one artifact
    # point-probed by id (the incremental-ingest existence check), and
    # the harvest costs one distributed pass per write — measured at
    # ~4 s per 100 k-utterance ingest, which spans/beats/sections/
    # embeddings (always read whole by the chain) would pay for nothing
    return LogTable(spark, os.path.join(base_dir, artifact),
                    bloom_for=(["episode_id"]
                               if artifact == "normalized" else None))


def _txlog_resolve_label(t, label: str | None) -> int | None:
    """Newest commit carrying ``label`` in its params (write_versioned
    stamps one per write), so the string-version contract of the dirs
    convention keeps working on txlog lakes. ``None`` label = latest.

    When every commit AFTER the labeled one is content-preserving
    maintenance (compact / restore-to-nothing-later), the label resolves
    to the LATEST snapshot instead of the pinned version — identical
    rows, but reads get the compacted layout (otherwise a label-addressed
    pipeline would never benefit from OPTIMIZE)."""
    if label is None:
        return None
    commits = t._commits()
    hits = [
        c["version"] for c in commits
        if c.get("params", {}).get("label") == label
    ]
    if not hits:
        have = sorted({
            c.get("params", {}).get("label") for c in commits
        } - {None})
        raise ValueError(
            f"no version labeled {label!r} in {t.path} (have {have})"
        )
    v = hits[-1]
    content_preserving = {"compact", "checkpoint"}
    if all(
        c["operation"] in content_preserving
        for c in commits if c["version"] > v
    ):
        return None
    return v


def validation_errors(df: DataFrame) -> F.Column:
    """Array of per-row validation failures (empty = valid).

    Mirrors the required-field + type/range predicates of
    `ingestion/validator.py:119-261`: required fields present, start >= 0,
    end > start, non-empty speaker/text.
    """
    checks = [
        (F.col("episode_id").isNull() | (F.trim("episode_id") == ""), "missing episode_id"),
        (F.col("start").isNull(), "missing start"),
        (F.col("end").isNull(), "missing end"),
        (F.col("speaker").isNull() | (F.trim("speaker") == ""), "missing/empty speaker"),
        (F.col("text").isNull() | (F.trim("text") == ""), "missing/empty text"),
        (F.col("start") < 0, "negative start"),
        (F.col("end") <= F.col("start"), "end <= start"),
        (F.isnan("start") | F.isnan("end"), "NaN timestamp"),
    ]
    return F.filter(
        F.array(
            *[F.when(cond, F.lit(msg)).otherwise(F.lit(None)) for cond, msg in checks]
        ),
        lambda x: x.isNotNull(),
    )


def split_valid(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """F3: (valid_rows, error_rows_with_reasons) —
    `ingestion/validator.py:305-342`."""
    tagged = df.withColumn("_errors", validation_errors(df))
    valid = tagged.filter(F.size("_errors") == 0).drop("_errors")
    invalid = tagged.filter(F.size("_errors") > 0).withColumn(
        "error", F.concat_ws("; ", "_errors")
    ).drop("_errors")
    return valid, invalid


_CANONICAL_UTTERANCE_COLS = [
    "utterance_id", "episode_id", "start", "end", "duration", "speaker", "text",
]


def normalize(df: DataFrame, keep_extra: bool = True) -> DataFrame:
    """W1 + deterministic IDs: sort within episode, assign 0-based position,
    compute duration, derive utterance_id (`ingestion/normalizer.py:141-162,
    46-57`). Tie-break on (start, end, speaker, text) for determinism under
    parallelism (SURVEY §7.4).

    ``keep_extra`` (reference default, `normalizer.py:70-73`): additional
    metadata columns beyond the canonical seven (e.g. ``confidence``,
    ``language``) ride through unchanged, ordered after the canonical set —
    validation tolerates them (`schemas.py:159-163`) and the versioned
    writer enforces only the canonical subset, so user metadata survives
    ingest instead of being silently dropped. The canonical names
    themselves are reserved (``duration``/``utterance_id`` inputs are
    recomputed, not preserved)."""
    w = Window.partitionBy("episode_id").orderBy("start", "end", "speaker", "text")
    pos = F.row_number().over(w) - 1
    out = (
        df.withColumn("_position", pos)
        .withColumn("duration", F.round(F.col("end") - F.col("start"), 6))
        .withColumn(
            "utterance_id",
            utterance_id("episode_id", F.col("_position"), "text", "speaker", "start", "end"),
        )
    )
    extras = (
        [c for c in df.columns if c not in _CANONICAL_UTTERANCE_COLS]
        if keep_extra
        else []
    )
    return out.select(*_CANONICAL_UTTERANCE_COLS, *extras)


def write_versioned(
    df: DataFrame,
    base_dir: str,
    artifact: str,
    version: str = "v1",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    schema=None,
) -> str:
    """S6-S8: write `<base>/<artifact>/<version>/` parquet (snappy,
    dictionary + stats are parquet-writer defaults, `writer.py:104-111`).
    Raises on schema mismatch like the reference's enforced write
    (`writer.py:92-99`).

    On a ``txlog`` lake (see `lake_format`) the artifact is a
    transaction-log table instead of a copy-per-version directory:
    ``mode="overwrite"`` is a snapshot-atomic overwrite commit,
    ``mode="append"`` an append commit, and the ``version`` string is
    recorded as the commit's label so label-addressed reads keep
    working. Time travel / CDF / compaction / vacuum then ride ONE
    mechanism (`txlog.LogTable`) rather than directory copies."""
    if schema is not None:
        problems = validate_schema(df, schema)
        if problems:
            raise ValueError(f"schema enforcement failed for {artifact}: {problems}")
        # enforce the canonical subset, preserve extra metadata columns
        # after it (reference tolerates extras, `schemas.py:159-163`, and
        # preserves them through normalize, `normalizer.py:70-73`)
        canonical = [f.name for f in schema.fields]
        extras = [c for c in df.columns if c not in canonical]
        df = df.select(*canonical, *extras)
    if lake_format(base_dir) == "txlog":
        # partition dirs don't exist in the log format; the equivalent
        # data-skipping layout is cluster-on-write (range-partitioned
        # files + per-file min/max in the log — Delta's liquid-clustering
        # direction), so partition_by maps onto it
        t = _txlog_table(df.sparkSession, base_dir, artifact)
        if mode == "append":
            t.append(df, params={"label": version},
                     cluster_by=partition_by)
        else:
            t.overwrite(df, params={"label": version},
                        cluster_by=partition_by)
        return t.path
    path = os.path.join(base_dir, artifact, version)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    _stamp_version(path, version)
    return path


def write_counted(
    df: DataFrame, base_dir: str, artifact: str, version: str = "v1", **kw
) -> int:
    """`write_versioned` returning the number of rows written, observed on
    the write itself (``DataFrame.observe``) instead of a second job that
    recomputes or re-reads the artifact. Not for range-clustered txlog
    writes (``partition_by`` on a txlog lake): their sampling pass would
    feed the observation too."""
    obs = Observation()
    write_versioned(
        df.observe(obs, F.count(F.lit(1)).alias("rows")),
        base_dir, artifact, version, **kw,
    )
    return obs.get["rows"]


def _stamp_version(path: str, version: str) -> None:
    """Sidecar `_version_info.json` with a UTC creation stamp — the
    metadata `read_as_of` resolves time-travel reads against. Underscore
    prefix ⇒ Spark's parquet scan ignores it. CREATION time, not last
    write: an append to an existing version must NOT re-stamp, or
    read_as_of / vacuum ordering would treat the oldest version as the
    newest."""
    import json as _json
    from datetime import datetime, timezone

    meta = os.path.join(path, "_version_info.json")
    if os.path.exists(meta):
        return
    info = {
        "version": version,
        "created_at": datetime.now(timezone.utc).isoformat(),
    }
    with open(meta, "w") as f:
        _json.dump(info, f, indent=2, sort_keys=True)


def read_versioned(
    spark: SparkSession,
    base_dir: str,
    artifact: str,
    version: str = "v1",
    columns: list[str] | None = None,
) -> DataFrame:
    """S9: read back with optional column pruning (Catalyst prunes the
    parquet scan automatically). On a txlog lake the label resolves to
    the newest commit that wrote it (snapshot read — later commits never
    tear it)."""
    if lake_format(base_dir) == "txlog":
        t = _txlog_table(spark, base_dir, artifact)
        df = t.read(version=_txlog_resolve_label(t, version))
    else:
        df = spark.read.parquet(os.path.join(base_dir, artifact, version))
    return df.select(*columns) if columns else df


def list_versions(base_dir: str, artifact: str) -> list[dict]:
    """All versions of an artifact, ascending by creation time: [{version,
    created_at, path}]. `created_at` comes from the `_version_info.json`
    sidecar `write_versioned` stamps; versions written before the sidecar
    existed fall back to the newest data-file mtime, so old lakes stay
    resolvable. Driver-side directory I/O only — metadata, not data."""
    import glob as _glob
    import json as _json
    from datetime import datetime, timezone

    if lake_format(base_dir) == "txlog":
        # one entry per label, at its NEWEST commit (mirrors the dirs
        # convention where a label is one directory); path is the table
        # root — version dirs don't exist, the log is the version axis
        from .txlog import LogTable

        t = LogTable(None, os.path.join(base_dir, artifact))
        by_label: dict[str, dict] = {}
        for c in t._commits_no_spark():
            label = c.get("params", {}).get("label")
            if label is None or label in by_label:
                # FIRST commit per label = CREATION time — a later append
                # under the same label must not re-order the version list
                # (same contract _stamp_version documents for dirs lakes)
                continue
            by_label[label] = {
                "version": label,
                "created_at": c.get("timestamp"),
                "path": t.path,
            }
        out = sorted(
            by_label.values(), key=lambda v: (v["created_at"], v["version"])
        )
        return out

    art_dir = os.path.join(base_dir, artifact)
    out = []
    for vdir in sorted(_glob.glob(os.path.join(art_dir, "*"))):
        if not os.path.isdir(vdir):
            continue
        meta = os.path.join(vdir, "_version_info.json")
        if os.path.exists(meta):
            with open(meta) as f:
                created = _json.load(f)["created_at"]
        else:
            files = _glob.glob(os.path.join(vdir, "**", "*.parquet"), recursive=True)
            if not files:
                continue
            # EARLIEST file mtime approximates CREATION time (max would let
            # a later rewrite of an old version's files sort it as newest,
            # misdirecting read_as_of latest-resolution and vacuum
            # retention); stamp the sidecar lazily so the ordering is
            # persisted once and never drifts with further rewrites
            created = datetime.fromtimestamp(
                min(os.path.getmtime(p) for p in files), tz=timezone.utc
            ).isoformat()
            try:
                with open(meta, "w") as f:
                    _json.dump(
                        {"version": os.path.basename(vdir), "created_at": created},
                        f, indent=2, sort_keys=True,
                    )
            except OSError:
                pass  # read-only lake: ordering still computed, just not cached
        out.append(
            {
                "version": os.path.basename(vdir),
                "created_at": created,
                "path": vdir,
            }
        )
    # stable tiebreak: equal timestamps (coarse filesystems, batch writes)
    # must not make latest-resolution order-of-listing dependent
    out.sort(key=lambda v: (v["created_at"], v["version"]))
    return out


def read_as_of(
    spark: SparkSession,
    base_dir: str,
    artifact: str,
    as_of: str | None = None,
    version: str | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Time-travel read over the versioned-dir convention — the analog of
    Delta's `VERSION AS OF` / `TIMESTAMP AS OF` for this lake (the
    reference maps its immutable snapshots to the same idea,
    `src/lakehouse/snapshot/creator.py:99-130`; SURVEY §1.1).

    Resolution: explicit ``version`` label wins; else ``as_of`` (ISO-8601
    UTC timestamp) picks the newest version created at or before that
    instant (raises if none existed yet); else the newest version.
    Compose with `maintenance.version_diff` on the resolved paths to audit
    what a rollback to the older version would change."""
    from datetime import datetime, timezone

    def _ts(s: str) -> datetime:
        dt = datetime.fromisoformat(s)
        return dt if dt.tzinfo else dt.replace(tzinfo=timezone.utc)

    if version is not None:
        return read_versioned(spark, base_dir, artifact, version, columns)
    if lake_format(base_dir) == "txlog":
        t = _txlog_table(spark, base_dir, artifact)
        v = t.version_as_of(as_of) if as_of is not None else None
        df = t.read(version=v)
        return df.select(*columns) if columns else df
    versions = list_versions(base_dir, artifact)
    if not versions:
        raise ValueError(f"no versions of {artifact!r} under {base_dir}")
    if as_of is not None:
        cutoff = _ts(as_of)
        eligible = [v for v in versions if _ts(v["created_at"]) <= cutoff]
        if not eligible:
            raise ValueError(
                f"no version of {artifact!r} existed at {as_of} "
                f"(earliest: {versions[0]['created_at']})"
            )
        pick = eligible[-1]
    else:
        pick = versions[-1]
    df = spark.read.parquet(pick["path"])
    return df.select(*columns) if columns else df


def parquet_info(spark: SparkSession, path: str) -> dict:
    """S10 footer inspection: rows / files / schema without a full scan
    (`writer.py:313-349`). Row count comes from footer statistics (Spark
    answers count() from parquet metadata when no filter is present)."""
    import glob as _glob
    import os as _os

    df = spark.read.parquet(path)
    # recursive: partitionBy sinks nest files under key=value/ subdirs
    files = _glob.glob(
        _os.path.join(path, "**", "*.parquet"), recursive=True
    )
    return {
        "rows": df.count(),
        "n_files": len(files),
        "bytes": sum(_os.path.getsize(f) for f in files),
        "schema": {f.name: f.dataType.simpleString() for f in df.schema.fields},
    }


def incremental_filter(new: DataFrame, existing: DataFrame) -> DataFrame:
    """F6: keep only episodes not already in the lake (left-anti join on
    distinct episode_id — `cli/commands/ingest.py:278-307`)."""
    seen = existing.select("episode_id").distinct()
    return new.join(F.broadcast(seen), "episode_id", "left_anti")


# point-lookup probe cap: a batch with more distinct episodes than this
# skips the per-id bloom probe (the full column read is then the right
# plan anyway — the probe's IN-list would be huge)
_SEEN_PROBE_CAP = 4096


def seen_episode_ids(
    spark: SparkSession,
    base_dir: str,
    artifact: str,
    version: str,
    candidate_ids: list[str] | None,
) -> DataFrame:
    """Which of ``candidate_ids`` already exist in the lake — the
    incremental-ingest existence check. On a txlog lake the probe goes
    through ``LogTable.scan('in', ...)``: the log's per-file blooms on
    episode_id (harvested at write, `_txlog_table`) plus min/max stats
    prune the file set DRIVER-SIDE, so the check opens O(files holding
    those episodes) instead of scanning every live file's episode_id
    column — on a many-file lake that is the difference between a
    metadata probe and a full column sweep. ``candidate_ids=None`` (or
    an over-cap list) and dirs lakes fall back to the full distinct
    column read; results are identical either way (the probe is an
    optimization, the left-anti join still decides)."""
    if (
        lake_format(base_dir) == "txlog"
        and candidate_ids is not None
        and len(candidate_ids) <= _SEEN_PROBE_CAP
    ):
        t = _txlog_table(spark, base_dir, artifact)
        df = t.scan(
            [("episode_id", "in", list(candidate_ids))],
            version=_txlog_resolve_label(t, version),
        )
        return df.select("episode_id").distinct()
    return read_versioned(
        spark, base_dir, artifact, version, ["episode_id"]
    ).distinct()


def ingest(
    spark: SparkSession,
    raw: DataFrame,
    base_dir: str,
    version: str = "v1",
    existing: DataFrame | None = None,
    fmt: str | None = None,
) -> dict[str, int]:
    """End-to-end ingest (SURVEY §3.1 Spark shape). Returns counters like the
    reference's ValidationResult (`validator.py:73-116`).

    ``fmt`` stamps a NEW lake's storage convention (``"dirs"`` |
    ``"txlog"``, see `lake_format`); on an existing lake it must match.
    With ``"txlog"`` every artifact write below is a transaction-log
    commit — incremental ingests become atomic appends with CDF."""
    if fmt is not None:
        set_lake_format(base_dir, fmt)
    if existing is not None:
        raw = incremental_filter(raw, existing)
    # both counts ride the write: the input rows are observed before the
    # validity split, the valid rows as they are written
    seen = Observation()
    valid, _ = split_valid(raw.observe(seen, F.count(F.lit(1)).alias("rows")))
    # incremental mode APPENDS the new episodes — overwrite would replace
    # the whole table with only the delta, silently deleting every
    # previously ingested episode
    n_valid = write_counted(
        normalize(valid), base_dir, "normalized", version,
        mode="append" if existing is not None else "overwrite",
        schema=UTTERANCE_SCHEMA,
    )
    n_total = seen.get["rows"]
    return {"valid": n_valid, "invalid": n_total - n_valid, "total": n_total}
