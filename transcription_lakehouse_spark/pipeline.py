"""End-to-end lakehouse pipeline: one library function per lake command.

Spark reshape of the reference's lake commands
(`/root/reference/src/lakehouse/cli/`): ingest → materialize (spans, beats,
sections, embeddings) → catalogs → validate → quality → snapshot, with
parquet tables under ``<lake>/<artifact>/<version>/`` as the stage
boundaries (SURVEY §3.2). The command line is `cli.py` (`lakehouse …`),
whose lake commands call these functions.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from .aggregation import (
    generate_beats_embedding,
    generate_beats_heuristic,
    generate_sections,
    generate_spans,
)
from .catalogs.episodes import episode_catalog
from .catalogs.speakers import speaker_catalog
from .embeddings import generate_embeddings
from .ingestion import artifact_exists
from .ingestion import ingest as _ingest
from .ingestion import read_versioned, write_counted, write_versioned
from .schemas import BEAT_SCHEMA, SECTION_SCHEMA, SPAN_SCHEMA
from .sources.transcripts import read_jsonl, with_default_episode_id
from .speaker_roles import SpeakerRoleConfig, beat_speaker_metadata, enrich_spans

if TYPE_CHECKING:
    from .quality.assessor import Thresholds


def ingest(
    spark: SparkSession, input_glob: str, lake_dir: str,
    keep_raw: bool = True, fmt: str | None = None,
) -> dict[str, int]:
    raw = with_default_episode_id(read_jsonl(spark, input_glob))
    stats = _ingest(spark, raw, lake_dir, fmt=fmt)
    if keep_raw:  # S11 bronze retention (`pipeline.py:284-299`)
        import glob as _glob
        import os
        import shutil

        raw_dir = os.path.join(lake_dir, "raw", "v1")
        os.makedirs(raw_dir, exist_ok=True)
        for src in sorted(_glob.glob(input_glob)):
            shutil.copy2(src, os.path.join(raw_dir, os.path.basename(src)))
    return stats


def materialize(
    spark: SparkSession,
    lake_dir: str,
    config: SpeakerRoleConfig | None = None,
    use_embeddings: bool = True,
    version: str = "v1",
) -> dict[str, int]:
    config = config or SpeakerRoleConfig()
    utterances = read_versioned(spark, lake_dir, "normalized", version)

    spans = enrich_spans(generate_spans(utterances), config, spark)
    n_spans = write_counted(spans, lake_dir, "spans", version, schema=SPAN_SCHEMA)
    spans = read_versioned(spark, lake_dir, "spans", version)

    if use_embeddings:
        span_emb = generate_embeddings(spans, "span_id", "text", "span")
        write_versioned(span_emb, lake_dir, "embeddings_span", version)
        span_emb = read_versioned(spark, lake_dir, "embeddings_span", version)
        beats = generate_beats_embedding(spans, span_emb)
    else:
        beats = generate_beats_heuristic(spans)
    beats = beat_speaker_metadata(beats, spans).withColumn(
        "topic_label", F.lit(None).cast("string")
    )
    n_beats = write_counted(beats, lake_dir, "beats", version, schema=BEAT_SCHEMA)
    beats = read_versioned(spark, lake_dir, "beats", version)

    beat_emb = None
    if use_embeddings:
        beat_emb = generate_embeddings(beats, "beat_id", "text", "beat")
        write_versioned(beat_emb, lake_dir, "embeddings_beat", version)
        beat_emb = read_versioned(spark, lake_dir, "embeddings_beat", version)
    n_sections = write_counted(
        generate_sections(beats, beat_emb), lake_dir, "sections", version,
        schema=SECTION_SCHEMA,
    )
    return {"spans": n_spans, "beats": n_beats, "sections": n_sections}


def catalog(
    spark: SparkSession, lake_dir: str, version: str = "v1"
) -> dict[str, int]:
    utterances = read_versioned(spark, lake_dir, "normalized", version)
    return {
        "episodes": write_counted(
            episode_catalog(utterances), lake_dir, "catalogs/episodes", version
        ),
        "speakers": write_counted(
            speaker_catalog(utterances), lake_dir, "catalogs/speakers", version
        ),
    }


def quality(
    spark: SparkSession,
    lake_dir: str,
    version: str = "v1",
    thresholds: Thresholds | None = None,
    report_dir: str | None = None,
) -> dict:
    """Run the 7-category assessment over the materialized lake and render
    the report tree under ``report_dir`` (default
    ``<lake>/quality_reports``; reference `lakehouse quality` command).
    ``thresholds`` is an assessor ``Thresholds`` (default: its defaults);
    the report records the ones applied."""
    from .quality.assessor import assess
    from .quality.reporter import write_report

    spans = read_versioned(spark, lake_dir, "spans", version)
    utterances = read_versioned(spark, lake_dir, "normalized", version)
    episodes = episode_catalog(utterances)
    # beats are optional (materialize may not have run); only a genuinely
    # absent table degrades to None — a corrupt one should surface loudly
    beats = (
        read_versioned(spark, lake_dir, "beats", version)
        if artifact_exists(lake_dir, "beats", version)
        else None
    )
    a = assess(spans, episodes, beats=beats, thresholds=thresholds)
    rep_dir = write_report(
        a, report_dir or f"{lake_dir}/quality_reports", spans=spans
    )
    return {
        "status": a.status,
        "n_violations": len(a.violations),
        "report": rep_dir,
    }


def validate(
    spark: SparkSession,
    lake_dir: str,
    version: str = "v1",
    fail_fast: bool = False,
) -> dict:
    """`lakehouse validate` parity (reference `cli/commands/validate.py:66`):
    integrity battery over the materialized artifacts — non-empty tables,
    timestamp quality, text quality, ID uniqueness, referential integrity,
    NaN/Inf numerics — as ONE aggregation per artifact (`table_checks`);
    no per-row driver work.

    Returns {"checks": {name: failing_count}, "tables": {name: rows},
    "ok": bool} — ok iff every failing_count is 0. ``fail_fast`` skips the
    remaining artifacts once one artifact has failures (cheap CI gate)."""
    from .quality.metrics import table_checks
    from .schemas import UTTERANCE_SCHEMA, validate_schema

    checks: dict[str, int] = {}
    tables: dict[str, int] = {}

    utt = read_versioned(spark, lake_dir, "normalized", version)
    u = table_checks(utt, "utterance_id", numeric=("start", "end"))
    tables["normalized"] = u["rows"]
    checks["normalized_empty"] = int(u["rows"] == 0)
    checks["normalized_schema_problems"] = len(
        validate_schema(utt, UTTERANCE_SCHEMA)
    )
    checks["utterance_id_dupes"] = u["id_dupes"]
    for name, n in u["nan_inf"].items():
        checks[f"normalized_{name}_nan_inf"] = n

    if fail_fast and any(v for v in checks.values()):
        return {
            "checks": checks,
            "tables": tables,
            "ok": False,
            "stopped_early": True,
        }

    if artifact_exists(lake_dir, "spans", version):
        spans = read_versioned(spark, lake_dir, "spans", version)
        # the battery covers timestamp quality (negative start/duration)
        # and missing speaker/episode/text; the parent table gives
        # referential integrity (every span's episode exists upstream)
        s = table_checks(spans, "span_id", battery=True, parent=utt)
        tables["spans"] = s["rows"]
        checks["spans_empty"] = int(s["rows"] == 0)
        checks["spans_schema_problems"] = len(validate_schema(spans, SPAN_SCHEMA))
        checks["span_id_dupes"] = s["id_dupes"]
        for key, val in s["integrity"].items():
            checks[f"spans_{key}"] = val
        checks["spans_orphan_episodes"] = s["orphans"]

    return {
        "checks": checks,
        "tables": tables,
        "ok": all(v == 0 for v in checks.values()),
    }


def snapshot(
    spark: SparkSession,
    lake_dir: str,
    version: str,
    qa_status: str | None = None,
    allow_red: bool = False,
    snapshot_root: str | None = None,
    lakehouse_version: str = "v1",
) -> dict:
    """Create an immutable checksum-manifested snapshot (reference
    `lakehouse snapshot create`). Records the latest quality verdict in the
    manifest when one exists."""
    import glob as _glob
    import json as _json

    from .snapshot import create_snapshot, verify_snapshot

    if qa_status is None:
        qa_status = "UNKNOWN"
        reports = sorted(
            _glob.glob(f"{lake_dir}/quality_reports/*/metrics/global.json")
        )
        if reports:
            with open(reports[-1]) as f:
                qa_status = (
                    _json.load(f)
                    .get("metadata", {})
                    .get("rag_status", "UNKNOWN")
                )
    snap_dir = create_snapshot(
        spark, lake_dir, version, qa_status=qa_status, allow_red=allow_red,
        snapshot_root=snapshot_root, lakehouse_version=lakehouse_version,
    )
    problems = verify_snapshot(snap_dir)
    return {
        "snapshot": snap_dir,
        "qa_status": qa_status,
        "verified": not problems,
        "problems": problems,
    }
