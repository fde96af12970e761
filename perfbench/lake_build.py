"""``lake_build``: batch writes, one client, closed loop.

Setup writes raw JSONL transcripts derived from a seeded ``events`` table.
Each timed iteration runs the ingest -> snapshot chain into a fresh
``dirs`` lake through the engine's public ``pipeline`` functions:
``ingest`` -> ``materialize`` (hash embeddings on) -> ``catalog`` ->
``validate`` -> ``quality`` -> ``snapshot``. Setup ends with one untimed
warm-up chain on its own seeded transcripts (3% of the input's size), so
the JVM's first-use costs (class loading, JIT, codegen) and the Python
workers' start-up land in ``setup_s`` and the timed chains measure the
steady state: a cold chain takes over twice as long as a warm one and
swings with host load.

Outputs are checked against the input: row counts of ``normalized``
(every utterance), ``spans`` and ``embeddings_span`` (a pandas re-count of
the span sessionization), the episode catalog (every episode), a clean
``validate``, a non-RED quality status and a verified snapshot.

In a traced run the timed chain is traced, with ``materialize`` split into
its public steps (spans + speaker roles, span embeddings, beats, beat
embeddings, sections; ``write_versioned`` after each); ``pipeline.
materialize`` then re-runs on the same lake and must give the same counts.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import gen
from transcription_lakehouse_spark import pipeline

UTTERANCES = 10_000
EPISODES = 150
FILES = 8
WARMUP_SCALE = 0.03


def expected_spans(utt) -> int:
    """Span count by the ``generate_spans`` rule: break on a speaker change
    or a gap over 0.5 s from the previous utterance's end; keep spans
    whose rounded duration is within [1, 240] s."""
    u = utt.sort_values(["episode_id", "start", "end"], kind="stable")
    prev_end = u.groupby("episode_id")["end"].shift()
    prev_spk = u.groupby("episode_id")["speaker"].shift()
    new = prev_end.isna() | (u["start"] - prev_end > 0.5) | (u["speaker"] != prev_spk)
    sess = new.astype(int).groupby(u["episode_id"]).cumsum()
    g = u.assign(sess=sess).groupby(["episode_id", "sess"])
    dur = (g["end"].max() - g["start"].min()).round(6)
    return int(((dur >= 1.0) & (dur <= 240.0)).sum())


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _materialize_traced(spark, lake: str, tr) -> dict:
    """``pipeline.materialize`` step by step, one span per public step."""
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark.aggregation import (
        generate_beats_embedding, generate_sections, generate_spans)
    from transcription_lakehouse_spark.embeddings import generate_embeddings
    from transcription_lakehouse_spark.ingestion import (
        read_versioned, write_versioned)
    from transcription_lakehouse_spark.schemas import (
        BEAT_SCHEMA, SECTION_SCHEMA, SPAN_SCHEMA)
    from transcription_lakehouse_spark.speaker_roles import (
        SpeakerRoleConfig, beat_speaker_metadata, enrich_spans)

    v = "v1"
    with tr.span("build.aggregation.spans"):
        utt = read_versioned(spark, lake, "normalized", v)
        spans = enrich_spans(generate_spans(utt), SpeakerRoleConfig(), spark)
        write_versioned(spans, lake, "spans", v, schema=SPAN_SCHEMA)
    spans = read_versioned(spark, lake, "spans", v)
    with tr.span("build.embeddings.span"):
        span_emb = generate_embeddings(spans, "span_id", "text", "span")
        write_versioned(span_emb, lake, "embeddings_span", v)
    span_emb = read_versioned(spark, lake, "embeddings_span", v)
    with tr.span("build.aggregation.beats"):
        beats = beat_speaker_metadata(
            generate_beats_embedding(spans, span_emb), spans
        ).withColumn("topic_label", F.lit(None).cast("string"))
        write_versioned(beats, lake, "beats", v, schema=BEAT_SCHEMA)
    beats = read_versioned(spark, lake, "beats", v)
    with tr.span("build.embeddings.beat"):
        beat_emb = generate_embeddings(beats, "beat_id", "text", "beat")
        write_versioned(beat_emb, lake, "embeddings_beat", v)
    beat_emb = read_versioned(spark, lake, "embeddings_beat", v)
    with tr.span("build.aggregation.sections"):
        write_versioned(generate_sections(beats, beat_emb), lake, "sections",
                        v, schema=SECTION_SCHEMA)
    return {a: read_versioned(spark, lake, a, v).count()
            for a in ("spans", "beats", "sections")}


def chain(ctx, raw_glob: str, lake: str, tr) -> dict:
    """One ingest -> snapshot chain; returns per-stage walls and outputs."""
    spark, walls, out = ctx.spark, {}, {}

    def stage(name, fn):
        t0 = time.perf_counter()
        with tr.span(f"build.{name}"):
            out[name] = fn()
        walls[name] = time.perf_counter() - t0

    stage("ingest", lambda: pipeline.ingest(spark, raw_glob, lake))
    if tr.enabled:
        stage("materialize", lambda: _materialize_traced(spark, lake, tr))
    else:
        stage("materialize", lambda: pipeline.materialize(spark, lake))
    stage("catalog", lambda: pipeline.catalog(spark, lake))
    stage("validate", lambda: pipeline.validate(spark, lake))
    stage("quality", lambda: pipeline.quality(spark, lake))
    stage("snapshot", lambda: pipeline.snapshot(spark, lake, "v1.0.0"))
    return {"walls": walls, "out": out}


def check(ctx, res: dict, lake: str, exp: dict) -> list[str]:
    from transcription_lakehouse_spark.ingestion import read_versioned

    out, bad = res["out"], []
    n_emb = read_versioned(ctx.spark, lake, "embeddings_span").count()
    got = {"normalized": out["ingest"]["valid"],
           "spans": out["materialize"]["spans"], "embeddings_span": n_emb,
           "episodes": out["catalog"]["episodes"]}
    if got != exp:
        bad.append(f"row counts {got} != {exp}")
    if not out["validate"]["ok"]:
        bad.append(f"validate: {out['validate']['checks']}")
    if out["quality"]["status"] not in ("GREEN", "AMBER"):
        bad.append(f"quality status {out['quality']['status']}")
    snap = out["snapshot"]
    if not snap["verified"] or snap["qa_status"] != out["quality"]["status"]:
        bad.append(f"snapshot {snap}")
    return bad


def _inputs(ctx, raw: str, scale: float, tag: str) -> tuple[dict, int]:
    """Seeded transcripts under ``raw`` and the chain's expected counts."""
    n = max(1, int(UTTERANCES * ctx.scale * scale))
    eps = max(1, int(EPISODES * ctx.scale * scale))
    utt, in_bytes = gen.transcripts(raw, ctx.seed, n, eps, FILES, tag=tag)
    n_spans = expected_spans(utt)
    return {"normalized": n, "spans": n_spans, "embeddings_span": n_spans,
            "episodes": int(utt["episode_id"].nunique())}, in_bytes


def run(ctx) -> tuple[dict, dict]:
    from spans import NullTracer

    t0 = time.perf_counter()
    raw, warm_raw = (os.path.join(ctx.tmp, d) for d in ("raw", "warm_raw"))
    exp, in_bytes = _inputs(ctx, raw, 1.0, "t")
    warm_exp, warm_bytes = _inputs(ctx, warm_raw, WARMUP_SCALE, "w")

    def one(label, raw_dir, want, raw_bytes, tr):
        lake = os.path.join(ctx.tmp, "lake")
        res = chain(ctx, os.path.join(raw_dir, "*.jsonl"), lake, tr)
        ctx.record(label, check(ctx, res, lake, want))
        res["stored_ratio"] = dir_bytes(lake) / raw_bytes
        res["snapshot_mb"] = dir_bytes(os.path.join(lake, "snapshots")) / 2**20
        if tr.enabled:
            # the traced chain runs materialize's public steps one by one;
            # pipeline.materialize over the same lake must count the same
            again = pipeline.materialize(ctx.spark, lake)
            ctx.record("traced materialize", [] if again == res["out"]["materialize"]
                       else [f"{res['out']['materialize']} != {again}"])
        shutil.rmtree(lake)
        return res

    warm = one("warm-up chain", warm_raw, warm_exp, warm_bytes, NullTracer())
    setup_s = ctx.session_s + time.perf_counter() - t0

    # in a traced run the first timed chain is the traced one
    runs, t_start = [], time.perf_counter()
    while not runs or time.perf_counter() - t_start < ctx.seconds:
        runs.append(one(f"chain {len(runs)}", raw, exp, in_bytes,
                        NullTracer() if runs else ctx.tracer))
    walls = [sum(r["walls"].values()) for r in runs]
    wall = float(np.median(walls))
    metrics = {
        "setup_s": setup_s,
        "wall_s": wall,
        "stored_bytes_ratio": float(np.median([r["stored_ratio"] for r in runs])),
    }
    detail = {
        "inputs": {"utterances": exp["normalized"], "jsonl_files": FILES,
                   "jsonl_bytes": in_bytes, "expected": exp,
                   "warmup_expected": warm_exp},
        "warmup_chain": {k: round(v, 4) for k, v in warm["walls"].items()},
        "chains": [{k: round(v, 4) for k, v in r["walls"].items()} for r in runs],
        "build.utt_per_s": exp["normalized"] / wall,
        "build.stored_bytes_ratio": metrics["stored_bytes_ratio"],
        "qa_status": runs[-1]["out"]["quality"]["status"],
    }
    if ctx.tracer.enabled:
        metrics.update(layer_metrics(ctx.tracer, runs[0]))
    return metrics, detail


def layer_metrics(tr, traced: dict) -> dict:
    m = {"trace.unit_wall_s": sum(traced["walls"].values()),
         "trace.bookkeeping_s": tr.bookkeeping_s}
    for s in ("ingest", "catalog", "validate", "quality", "snapshot"):
        m[f"build.{s}.wall_s"] = tr.total(f"build.{s}", "wall_s")
        m[f"build.{s}.jobs"] = tr.total(f"build.{s}", "jobs")
        m[f"build.{s}.exec_cpu_s"] = tr.total(f"build.{s}", "exec_cpu_s")
    m["build.ingest.input_mb"] = tr.total("build.ingest", "input_mb")
    for layer in ("aggregation", "embeddings"):
        m[f"build.{layer}.wall_s"] = tr.total(f"build.{layer}.", "wall_s")
        m[f"build.{layer}.python_s"] = tr.total(f"build.{layer}.", "python_s")
    m["build.aggregation.shuffle_mb"] = tr.total("build.aggregation.", "shuffle_write_mb")
    m["build.materialize.jobs"] = tr.total("build.materialize", "jobs")
    m["build.materialize.bytes_written_mb"] = tr.total("build.materialize", "output_mb")
    m["build.snapshot.bytes_copied_mb"] = traced["snapshot_mb"]
    return m
