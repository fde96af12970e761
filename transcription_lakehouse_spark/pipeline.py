"""End-to-end lakehouse pipeline + CLI.

Spark reshape of the reference's CLI surface
(`/root/reference/src/lakehouse/cli/`): ingest → materialize (spans, beats,
sections, embeddings) → catalogs, with parquet tables under
``<lake>/<artifact>/<version>/`` as the stage boundaries (SURVEY §3.2).

Usage:
    python -m transcription_lakehouse_spark.pipeline ingest <input_glob> <lake_dir>
    python -m transcription_lakehouse_spark.pipeline materialize <lake_dir>
    python -m transcription_lakehouse_spark.pipeline catalog <lake_dir>
    python -m transcription_lakehouse_spark.pipeline validate <lake_dir>
    python -m transcription_lakehouse_spark.pipeline quality <lake_dir>
    python -m transcription_lakehouse_spark.pipeline snapshot <lake_dir> [version]
    python -m transcription_lakehouse_spark.pipeline verify <snapshot_dir>
"""

from __future__ import annotations

import sys

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
from .session import get_spark
from .sources.transcripts import read_jsonl, with_default_episode_id
from .speaker_roles import SpeakerRoleConfig, beat_speaker_metadata, enrich_spans


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


def quality(spark: SparkSession, lake_dir: str, version: str = "v1") -> dict:
    """Run the 7-category assessment over the materialized lake and render
    the report tree (reference `lakehouse quality` command)."""
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
    a = assess(spans, episodes, beats=beats)
    rep_dir = write_report(a, f"{lake_dir}/quality_reports", spans=spans)
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


def main(argv: list[str]) -> int:
    n_args = {
        "ingest": 3,
        "materialize": 2,
        "catalog": 2,
        "validate": 2,
        "quality": 2,
        "snapshot": 2,
        "verify": 2,
        "maintain": 2,
    }
    if not argv or argv[0] not in n_args or len(argv) < n_args[argv[0]]:
        print(__doc__)
        return 2
    cmd = argv[0]
    if cmd == "verify":  # pure filesystem check, no Spark needed
        from .snapshot import verify_snapshot

        problems = verify_snapshot(argv[1])
        print({"snapshot": argv[1], "verified": not problems, "problems": problems})
        return 0 if not problems else 1
    spark = get_spark(app_name=f"lakehouse-{cmd}")
    if cmd == "ingest":
        # optional 4th arg: lake format (dirs | txlog)
        print(ingest(spark, argv[1], argv[2],
                     fmt=argv[3] if len(argv) > 3 else None))
    elif cmd == "materialize":
        print(materialize(spark, argv[1]))
    elif cmd == "catalog":
        print(catalog(spark, argv[1]))
    elif cmd == "maintain":
        # lake-wide auto-OPTIMIZE: optional 3rd arg = table-level
        # dead-ratio trigger (default 0.2)
        from .maintenance import optimize_lake

        print(optimize_lake(
            spark, argv[1],
            max_dead_ratio=float(argv[2]) if len(argv) > 2 else 0.2,
        ))
    elif cmd == "validate":
        out = validate(spark, argv[1])
        print(out)
        return 0 if out["ok"] else 1
    elif cmd == "quality":
        out = quality(spark, argv[1])
        print(out)
        # RED gates CI (reference exits non-zero on failed assessment)
        return 1 if out["status"] == "RED" else 0
    elif cmd == "snapshot":
        out = snapshot(spark, argv[1], argv[2] if len(argv) > 2 else "v1.0.0")
        print(out)
        return 0 if out["verified"] else 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
