from __future__ import annotations

import json

import pyspark.sql.functions as F

from transcription_lakehouse_spark import pipeline
from transcription_lakehouse_spark.embeddings import generate_embeddings, hash_embed
from transcription_lakehouse_spark.indexing import build_index, incremental_update, search
from transcription_lakehouse_spark.multimodal import (
    extract_features,
    media_table,
    sample_frames,
)
from transcription_lakehouse_spark.snapshot import create_snapshot, verify_snapshot


def _write_jsonl(tmp_path, name, n=60, episode="LOS - #1 - 2024-01-01 - T"):
    p = tmp_path / name
    with open(p, "w") as f:
        t = 0.0
        for i in range(n):
            sp = ["A", "B"][(i // 5) % 2]
            f.write(
                json.dumps(
                    {
                        "episode_id": episode,
                        "start": round(t, 2),
                        "end": round(t + 2.0, 2),
                        "speaker": sp,
                        "text": f"{sp} speaks line {i} about topic {i % 3}",
                    }
                )
                + "\n"
            )
            t += 2.2
    return str(p)


def test_pipeline_end_to_end(spark, tmp_path):
    _write_jsonl(tmp_path, "ep1.jsonl")
    lake = str(tmp_path / "lake")
    stats = pipeline.ingest(spark, str(tmp_path / "*.jsonl"), lake)
    assert stats["valid"] == 60 and stats["invalid"] == 0
    counts = pipeline.materialize(spark, lake, use_embeddings=True)
    assert counts["spans"] > 0 and counts["beats"] > 0 and counts["sections"] >= 1
    cat = pipeline.catalog(spark, lake)
    assert cat["episodes"] == 1 and cat["speakers"] == 2
    # re-ingest is idempotent: deterministic IDs identical
    ids1 = sorted(
        r["utterance_id"]
        for r in spark.read.parquet(f"{lake}/normalized/v1").collect()
    )
    pipeline.ingest(spark, str(tmp_path / "*.jsonl"), lake)
    ids2 = sorted(
        r["utterance_id"]
        for r in spark.read.parquet(f"{lake}/normalized/v1").collect()
    )
    assert ids1 == ids2


def test_embeddings_deterministic_and_unit_norm(spark):
    df = spark.createDataFrame([("a", "hello"), ("b", "world")], "id string, text string")
    e1 = generate_embeddings(df, "id", "text", "span")
    rows = {r["artifact_id"]: r["embedding"] for r in e1.collect()}
    import numpy as np

    assert abs(np.linalg.norm(rows["a"]) - 1.0) < 1e-5
    assert rows["a"] == list(hash_embed("hello").astype(float).astype("float32"))


def test_embedding_shared_batcher_truncates_batches_and_normalizes(spark):
    """VERDICT #8: the provider-agnostic path owns truncation (8192 chars),
    model-batch slicing (32), and unit-norm — pinned by driving the shared
    path with a recording provider, then confirming the Spark job uses it."""
    import numpy as np

    from transcription_lakehouse_spark.embeddings import (
        MAX_CHARS,
        MODEL_BATCH,
        encode_texts,
        generate_embeddings,
    )

    seen: list[list[int]] = []

    def factory(dim):
        def embed(texts):
            seen.append([len(t) for t in texts])
            # deliberately un-normalized output: the shared path must fix it
            return np.full((len(texts), dim), 3.0, dtype="float32") + np.arange(
                len(texts), dtype="float32"
            ).reshape(-1, 1)

        return embed

    texts = ["x" * (MAX_CHARS + 500)] + [f"t{i}" for i in range(MODEL_BATCH + 4)]
    mat = encode_texts(texts, factory(8), dim=8)
    # batch slicing: 37 texts -> batches of 32 and 5
    assert [len(b) for b in seen] == [MODEL_BATCH, len(texts) - MODEL_BATCH]
    # truncation happened BEFORE the provider saw the text
    assert seen[0][0] == MAX_CHARS
    # unit-norm applied on the way out
    assert np.allclose(np.linalg.norm(mat, axis=1), 1.0, atol=1e-5)

    # the distributed path accepts an injected factory (providers are config)
    df = spark.createDataFrame([("a", "hello"), ("b", "world")], "id string, text string")
    rows = generate_embeddings(df, "id", "text", "span", dim=8, provider=factory).collect()
    assert all(abs(np.linalg.norm(r["embedding"]) - 1.0) < 1e-5 for r in rows)

    # unknown real-model provider fails fast with the documented seam
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="sentence-transformers"):
        generate_embeddings(df, "id", "text", "span", provider="sentence-transformers")


def test_snapshot_refuses_red_qa_unless_forced(spark, tmp_path):
    """VERDICT #6 (`creator.py:99-130`): a RED verdict blocks snapshot
    creation; forcing writes the flag into the manifest and verify_snapshot
    keeps surfacing it."""
    import pytest as _pytest

    lake = str(tmp_path / "lake")
    _write_jsonl(tmp_path, "ep.jsonl", n=10)
    pipeline.ingest(spark, str(tmp_path / "*.jsonl"), lake)

    with _pytest.raises(ValueError, match="RED"):
        create_snapshot(spark, lake, "v9.0.0", artifacts=["normalized"], qa_status="RED")

    snap = create_snapshot(
        spark, lake, "v9.0.0", artifacts=["normalized"], qa_status="RED", allow_red=True
    )
    problems = verify_snapshot(snap)
    assert any("RED" in p for p in problems)

    green = create_snapshot(
        spark, lake, "v9.0.1", artifacts=["normalized"], qa_status="GREEN"
    )
    assert verify_snapshot(green) == []
    manifest = json.load(open(f"{green}/lake_manifest.json"))
    assert manifest["qa_status"] == "GREEN"


def test_incremental_update_keeps_built_hash_family(spark, tmp_path):
    """ADVICE: an index built with non-default n_planes must bucket appended
    rows under the SAME hash family (metadata sidecar), or bucket-pruned
    searches silently miss neighbors."""
    from transcription_lakehouse_spark.indexing import build_index, read_index_meta
    from transcription_lakehouse_spark.functions.vector import as_double_array
    from transcription_lakehouse_spark.operators.similarity import hyperplane_bucket

    dim = 6
    base = spark.createDataFrame(
        [(f"v{i}", [float(i % 3), 1.0, 0.5, -1.0, float(i % 2), 2.0]) for i in range(20)],
        "artifact_id string, embedding array<float>",
    )
    idx = str(tmp_path / "idx6")
    build_index(base, idx, n_planes=4)
    assert read_index_meta(idx)["n_planes"] == 4

    extra = spark.createDataFrame(
        [(f"w{i}", [1.0, float(i), 0.0, 0.5, -2.0, float(i % 5)]) for i in range(4)],
        "artifact_id string, embedding array<float>",
    )
    out = incremental_update(spark, base.union(extra), idx)
    assert out == "appended 4"
    stored = spark.read.parquet(idx).filter(F.col("artifact_id").startswith("w"))
    expected = extra.withColumn(
        "bucket", hyperplane_bucket(as_double_array("embedding"), 4)
    )
    got = {(r["artifact_id"], r["bucket"]) for r in stored.collect()}
    want = {(r["artifact_id"], r["bucket"]) for r in expected.collect()}
    assert got == want  # same family as built, NOT the default 8


def test_index_lifecycle(spark, tmp_path):
    df = spark.createDataFrame(
        [(f"v{i}", [float(i % 5), 1.0, 0.5]) for i in range(20)],
        "artifact_id string, embedding array<float>",
    )
    idx = str(tmp_path / "idx")
    assert incremental_update(spark, df, idx) == "built"
    assert incremental_update(spark, df, idx) == "appended 0"
    more = spark.createDataFrame(
        [(f"w{i}", [1.0, float(i), 0.0]) for i in range(20)],
        "artifact_id string, embedding array<float>",
    )
    both = df.union(more)
    assert incremental_update(spark, both, idx) == "rebuilt"  # 100% new > 30%
    res = search(df.limit(2), spark.read.parquet(idx), k=3)
    assert res.count() > 0


def test_ivf_index_store_and_pruned_search(spark, tmp_path):
    """The stored-IVF path: centroids persisted in the sidecar, corpus
    partitioned by cell, search reads only probed cell partitions and
    matches the in-memory ivf_topk exactly."""
    from tests.test_operators import _clustered_vectors
    from transcription_lakehouse_spark.indexing import (
        build_ivf_index,
        read_index_meta,
        search_ivf,
    )
    from transcription_lakehouse_spark.operators.similarity import ivf_topk

    rows = [(f"v{i}", v) for i, v in _clustered_vectors(n_per_cluster=15)]
    df = spark.createDataFrame(rows, "artifact_id string, embedding array<float>")
    idx = str(tmp_path / "ivf_idx")
    build_ivf_index(df, idx, n_cells=4)
    meta = read_index_meta(idx)
    assert meta["kind"] == "ivf" and meta["rows"] == 60
    assert len(meta["centroids"]) == 4

    q = df.limit(3)
    got = search_ivf(spark, q, idx, k=3, nprobe=2)
    want = ivf_topk(
        q, df, "artifact_id", "embedding", k=3, n_cells=4, nprobe=2,
        centroids=meta["centroids"],
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # the corpus scan prunes to the probed cell partitions
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan or "cell#" in plan, plan


def test_ivf_incremental_update_drift_triggered_rebuild(spark, tmp_path):
    """IVF append path with the drift ACTUATOR: in-distribution appends
    ride the trained centroids (no retrain, replay-idempotent via the
    anti-join); an out-of-distribution flood crosses the occupancy-PSI
    bar and rebuilds the index from its own stored rows — retrained
    centroids, rebased occupancy baseline, no rows lost. Volume alone
    never triggers (unlike the LSH 30% rule): the trigger is
    distribution shift."""
    import random

    from tests.test_operators import _clustered_vectors
    from transcription_lakehouse_spark.indexing import (
        ivf_incremental_update,
        read_index_meta,
    )

    random.seed(21)
    base = [(f"v{i}", v) for i, v in _clustered_vectors(n_per_cluster=15)]
    df = spark.createDataFrame(
        base, "artifact_id string, embedding array<float>")
    idx = str(tmp_path / "ivf")
    assert ivf_incremental_update(spark, df, idx, n_cells=4) == "built"
    meta0 = read_index_meta(idx)

    # replay: zero new ids, no rebuild
    out = ivf_incremental_update(spark, df, idx)
    assert out.startswith("appended 0")

    # in-distribution growth (spread over ALL clusters): appended under
    # the trained centroids, PSI stays under the bar
    centers = [base[c * 15][1] for c in range(4)]
    grow = [(f"g{c}_{i}",
             [x + random.gauss(0, 0.5) for x in centers[c]])
            for c in range(4) for i in range(10)]
    df2 = df.unionByName(spark.createDataFrame(
        grow, "artifact_id string, embedding array<float>"))
    out = ivf_incremental_update(spark, df2, idx)
    assert out.startswith("appended 40")
    assert read_index_meta(idx)["rows"] == 100
    assert read_index_meta(idx)["centroids"] == meta0["centroids"]

    # out-of-distribution flood: PSI crosses, rebuild retrains on the
    # stored corpus and rebases the occupancy baseline
    flood = [(f"d{i}", [x + random.gauss(0, 0.5) for x in centers[0]])
             for i in range(300)]
    df3 = df2.unionByName(spark.createDataFrame(
        flood, "artifact_id string, embedding array<float>"))
    out = ivf_incremental_update(spark, df3, idx)
    assert out.startswith("rebuilt")
    meta1 = read_index_meta(idx)
    assert meta1["rows"] == 400
    assert meta1["centroids"] != meta0["centroids"]
    stored = spark.read.parquet(idx)
    assert stored.count() == 400
    assert stored.select("artifact_id").distinct().count() == 400
    # post-rebuild the baseline is current: PSI back under the bar
    out = ivf_incremental_update(spark, df3, idx)
    assert out.startswith("appended 0")


def test_ivf_drift_report_recommends_retrain(spark, tmp_path):
    """Quantizer-drift observability (r10 VERDICT #5): the IVF sidecar
    records training-time cell occupancy; ivf_drift_report computes the
    occupancy PSI of the corpus-as-assigned-now vs then and recommends a
    retrain past the threshold. A synthetically drifted corpus (new mass
    flooding one region) fires the recommendation; the undrifted corpus
    does not."""
    import random

    from tests.test_operators import _clustered_vectors
    from transcription_lakehouse_spark.indexing import (
        build_ivf_index,
        ivf_drift_report,
        occupancy_psi,
        read_index_meta,
    )

    rows = [(f"v{i}", v) for i, v in _clustered_vectors(n_per_cluster=15)]
    df = spark.createDataFrame(
        rows, "artifact_id string, embedding array<float>")
    idx = str(tmp_path / "ivf")
    build_ivf_index(df, idx, n_cells=4)
    meta = read_index_meta(idx)
    assert set(meta["occupancy"]) == {"0", "1", "2", "3"}
    assert abs(sum(meta["occupancy"].values()) - 1.0) < 1e-9

    # undrifted: stored corpus == training corpus -> PSI ~ 0, no fire
    rep = ivf_drift_report(spark, idx)
    assert rep["baseline"] == "train"
    assert rep["psi"] < 0.01 and rep["recommend_retrain"] is False
    # explicit `current` routes through trained-centroid assignment and
    # must agree with the stored cells
    rep2 = ivf_drift_report(spark, idx, current=df)
    assert rep2["psi"] < 0.01

    # drift: a new topic floods one region — occupancy collapses into
    # that cell, PSI crosses the bar, the recommendation fires
    random.seed(7)
    center = rows[0][1]
    flood = [(f"d{i}", [x + random.gauss(0, 0.5) for x in center])
             for i in range(180)]
    drifted = df.unionByName(spark.createDataFrame(
        flood, "artifact_id string, embedding array<float>"))
    rep3 = ivf_drift_report(spark, idx, current=drifted)
    assert rep3["psi"] >= 0.25 and rep3["recommend_retrain"] is True
    # the dominant cell holds the flooded mass: 180 flood + 15 original
    # of 240 rows
    assert max(rep3["occupancy_current"].values()) > 0.7

    # the PSI helper itself: identical distributions score 0; an empty
    # cell contributes a large finite term, never inf
    assert occupancy_psi({0: 0.5, 1: 0.5}, {0: 0.5, 1: 0.5}, 2) == 0.0
    assert 0 < occupancy_psi({0: 0.5, 1: 0.5}, {0: 1.0}, 2) < float("inf")

    # CLI twin: same report over the stored index
    import json as _json
    import unittest.mock as _mock

    from click.testing import CliRunner

    from transcription_lakehouse_spark import cli as cli_mod

    with _mock.patch.object(cli_mod, "_spark", lambda cmd: spark):
        r = CliRunner().invoke(cli_mod.cli, ["index-drift", idx])
    assert r.exit_code == 0, r.output
    out = _json.loads(r.output[r.output.index("{"):])
    assert out["recommend_retrain"] is False and out["psi"] < 0.01


def test_snapshot_immutable_and_verifiable(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _write_jsonl(tmp_path, "ep.jsonl")
    pipeline.ingest(spark, str(tmp_path / "*.jsonl"), lake)
    snap = create_snapshot(spark, lake, "v1.0.0", artifacts=["normalized"])
    assert verify_snapshot(snap) == []
    try:
        create_snapshot(spark, lake, "v1.0.0")
        raise AssertionError("expected immutability error")
    except FileExistsError:
        pass
    # corrupt a file -> verify catches it
    import glob

    f = glob.glob(f"{snap}/normalized/*.parquet")[0]
    with open(f, "ab") as fh:
        fh.write(b"x")
    assert any("checksum mismatch" in p for p in verify_snapshot(snap))


# `validate` on `_corrupt_lake`; the planted NaN start is counted by the
# normalized table's NaN/Inf check
VALIDATE_CORRUPT = {
    "checks": {
        "normalized_empty": 0,
        "normalized_schema_problems": 0,
        "utterance_id_dupes": 2,
        "normalized_start_nan_inf": 1,
        "normalized_end_nan_inf": 0,
        "spans_empty": 0,
        "spans_schema_problems": 0,
        "span_id_dupes": 1,
        "spans_negative_duration": 0,
        "spans_zero_duration": 1,
        "spans_missing_episode_id": 1,
        "spans_missing_speaker": 1,
        "spans_missing_text": 1,
        "spans_negative_start": 0,
        "spans_orphan_episodes": 2,
    },
    "tables": {"normalized": 5, "spans": 6},
    "ok": False,
}
VALIDATE_FAIL_FAST = {
    "checks": {
        "normalized_empty": 0,
        "normalized_schema_problems": 0,
        "utterance_id_dupes": 2,
        "normalized_start_nan_inf": 1,
        "normalized_end_nan_inf": 0,
    },
    "tables": {"normalized": 5},
    "ok": False,
    "stopped_early": True,
}
# Spark jobs per chain command on the 60-utterance fixture (test session:
# AQE off, 4 shuffle partitions); the count()-probing chain took 62
JOB_BUDGET = {
    "ingest": 1,
    "materialize": 15,
    "catalog": 3,
    "validate": 5,
    "quality": 9,
    "snapshot": 0,
}
# `lakehouse catalog --save-catalog --statistics` (both catalogs) on the
# CLI fixture when each save was followed by its own count() pass; taking
# the counts on the saves runs 13
CATALOG_SAVE_STATS_JOBS_BEFORE = 19


def _write_dirty_jsonl(dir_path, name, episode):
    """Six clean utterances, four invalid ones (missing speaker, end <=
    start, negative start, blank text) and one malformed line, which the
    reader drops before validation."""
    rows = [
        {"episode_id": episode, "start": 2.0 * i, "end": 2.0 * i + 1.5,
         "speaker": "AB"[i % 2], "text": f"clean line {i}"}
        for i in range(6)
    ] + [
        {"episode_id": episode, "start": 20.0, "end": 21.0, "text": "who"},
        {"episode_id": episode, "start": 22.0, "end": 22.0, "speaker": "A",
         "text": "zero length"},
        {"episode_id": episode, "start": -1.0, "end": 1.0, "speaker": "B",
         "text": "before zero"},
        {"episode_id": episode, "start": 24.0, "end": 25.0, "speaker": "A",
         "text": "   "},
    ]
    with open(dir_path / name, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
        f.write("{not json\n")


def test_ingest_counts_observed_on_the_write(spark, tmp_path):
    """`ingest`'s valid/invalid/total are observed on the write itself,
    exact on input with invalid rows: on a dirs lake, on a txlog lake, and
    for `lakehouse ingest --incremental`, where only the delta counts."""
    from click.testing import CliRunner

    from transcription_lakehouse_spark.cli import cli as cli_group
    from transcription_lakehouse_spark.ingestion import read_versioned

    data = tmp_path / "data"
    data.mkdir()
    _write_dirty_jsonl(data, "ep1.jsonl", "EP1")
    want = {"valid": 6, "invalid": 4, "total": 10}
    for fmt in ("dirs", "txlog"):
        lake = str(tmp_path / f"lake_{fmt}")
        got = pipeline.ingest(spark, str(data / "*.jsonl"), lake, fmt=fmt)
        assert got == want, fmt
        assert read_versioned(spark, lake, "normalized").count() == 6

    lake = str(tmp_path / "lake_cli")
    runner = CliRunner()

    def ingest(*flags):
        r = runner.invoke(
            cli_group, ["ingest", str(data), "--lakehouse-path", lake, *flags],
            catch_exceptions=False,
        )
        assert r.exit_code == 0, r.output
        return json.loads(r.output)

    assert ingest() == want
    _write_dirty_jsonl(data, "ep2.jsonl", "EP2")
    _write_jsonl(data, "ep3.jsonl", n=5, episode="EP3")
    assert ingest("--incremental") == {"valid": 11, "invalid": 4, "total": 15}


def _corrupt_lake(spark, lake):
    """A lake whose normalized table has a duplicate id, NULL ids and a NaN
    start, and whose spans add an orphan and a NULL episode, a NaN start
    and missing text on top of the same id defects."""
    nan = float("nan")
    spark.createDataFrame(
        [
            ("u1", "EP1", 0.0, 1.0, 1.0, "A", "hello there"),
            ("u1", "EP1", 1.0, 2.0, 1.0, "B", "duplicate id"),
            (None, "EP1", 2.0, 3.0, 1.0, "A", "null id"),
            (None, "EP1", 3.0, 4.0, 1.0, "A", "another null id"),
            ("u5", "EP2", nan, 5.0, nan, "B", "nan start"),
        ],
        "utterance_id string, episode_id string, start double, end double, "
        "duration double, speaker string, text string",
    ).write.parquet(f"{lake}/normalized/v1")
    spark.createDataFrame(
        [
            ("s1", "EP1", "A", 0.0, 2.0, 2.0, "hello there duplicate"),
            ("s1", "EP1", "B", 2.0, 4.0, 2.0, "same span id"),
            (None, "EP1", "A", 4.0, 5.0, 1.0, "null span id"),
            ("s4", "EP2", "B", nan, 5.0, nan, "nan start"),
            ("s5", "GHOST", "A", 0.0, 3.0, 3.0, "orphan episode"),
            ("s6", None, "", 1.0, 1.0, 0.0, None),
        ],
        "span_id string, episode_id string, speaker string, "
        "start_time double, end_time double, duration double, text string",
    ).select(
        "span_id", "episode_id", "speaker",
        F.col("speaker").alias("speaker_canonical"),
        F.lit("other").alias("speaker_role"), F.lit(False).alias("is_expert"),
        "start_time", "end_time", "duration", "text",
        F.array(F.lit("u1")).alias("utterance_ids"),
    ).write.parquet(f"{lake}/spans/v1")


def test_validate_pins_counts_on_corrupt_lake(spark, tmp_path):
    """`validate`'s whole returned dict on a lake with duplicate and NULL
    ids, NaN starts, an orphan and a NULL episode (all folded into one
    aggregate per artifact)."""
    lake = str(tmp_path / "lake")
    _corrupt_lake(spark, lake)
    assert pipeline.validate(spark, lake) == VALIDATE_CORRUPT
    assert pipeline.validate(spark, lake, fail_fast=True) == VALIDATE_FAIL_FAST


def test_chain_job_budget(spark, tmp_path):
    """Spark jobs per chain command, counted per job group. Each command's
    counts and checks come from the pass that writes or scans its data, so
    a re-added count()/collect() probe breaks its ceiling. Ceilings are the
    counts under the test session's confs (AQE off)."""
    _write_jsonl(tmp_path, "ep1.jsonl")
    raw, lake = str(tmp_path / "*.jsonl"), str(tmp_path / "lake")
    stages = {
        "ingest": lambda: pipeline.ingest(spark, raw, lake),
        "materialize": lambda: pipeline.materialize(spark, lake),
        "catalog": lambda: pipeline.catalog(spark, lake),
        "validate": lambda: pipeline.validate(spark, lake),
        "quality": lambda: pipeline.quality(spark, lake),
        "snapshot": lambda: pipeline.snapshot(spark, lake, "v1.0.0"),
    }
    sc = spark.sparkContext
    jobs = {}
    try:
        for name, run in stages.items():
            group = f"job-budget-{name}-{tmp_path.name}"
            sc.setJobGroup(group, name)
            run()
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    over = {k: (n, JOB_BUDGET[k]) for k, n in jobs.items() if n > JOB_BUDGET[k]}
    assert not over, f"jobs over budget (got, ceiling): {over}"


def test_validate_command_clean_then_corrupted(spark, tmp_path):
    """`pipeline.validate` (reference `lakehouse validate` parity): a clean
    materialized lake passes every check; injected violations (dup span ids,
    negative durations, orphan episode) show up with nonzero counts."""
    lake = str(tmp_path / "lake")
    _write_jsonl(tmp_path, "ok.jsonl", n=20)
    pipeline.ingest(spark, str(tmp_path / "*.jsonl"), lake)
    pipeline.materialize(spark, lake, use_embeddings=False)

    out = pipeline.validate(spark, lake)
    assert out["ok"], out
    assert out["tables"]["normalized"] == 20
    assert set(out["checks"]) >= {
        "utterance_id_dupes",
        "span_id_dupes",
        "spans_negative_duration",
        "spans_missing_speaker",
        "spans_orphan_episodes",
    }

    # corrupt: duplicate a span id, negate a duration, orphan an episode
    spans_path = f"{lake}/spans/v1"
    spans = spark.read.parquet(spans_path)
    first = spans.limit(1)
    bad = spans.unionByName(
        first.withColumn("duration", F.lit(-2.0)).withColumn(
            "episode_id", F.lit("GHOST")
        )
    )
    bad.write.mode("overwrite").parquet(f"{lake}/spans_bad")
    spark.read.parquet(f"{lake}/spans_bad").write.mode("overwrite").parquet(
        spans_path
    )
    out2 = pipeline.validate(spark, lake)
    assert not out2["ok"]
    assert out2["checks"]["span_id_dupes"] == 1
    assert out2["checks"]["spans_negative_duration"] == 1
    assert out2["checks"]["spans_orphan_episodes"] == 1


def test_quality_red_blocks_snapshot_through_pipeline(spark, tmp_path):
    """End-to-end QA gating: a lake whose spans violate integrity rules
    assesses RED through `pipeline.quality`, and `pipeline.snapshot` then
    refuses the snapshot (reference `creator.py:99-130` behavior)."""
    import pytest as _pytest

    lake = str(tmp_path / "lake")
    _write_jsonl(tmp_path, "ok.jsonl", n=20)
    pipeline.ingest(spark, str(tmp_path / "*.jsonl"), lake)
    pipeline.materialize(spark, lake, use_embeddings=False)
    # corrupt the spans artifact: zero/negative durations + blank speakers
    spans_path = f"{lake}/spans/v1"
    spans = spark.read.parquet(spans_path)
    bad = spans.withColumn("end_time", F.col("start_time") - 1.0).withColumn(
        "speaker", F.lit("")
    ).withColumn("duration", F.lit(-1.0))
    bad.write.mode("overwrite").parquet(f"{lake}/spans_bad")
    spark.read.parquet(f"{lake}/spans_bad").write.mode("overwrite").parquet(spans_path)

    out = pipeline.quality(spark, lake)
    assert out["status"] == "RED"
    with _pytest.raises(ValueError, match="RED"):
        pipeline.snapshot(spark, lake, "v1.0.0")


def test_stream_ingest_replay_is_idempotent(spark, tmp_path):
    """Exactly-once per utterance under replay: re-processing the same files
    with a FRESH checkpoint appends nothing (deterministic IDs + anti-join
    upsert) — the streaming twin of the batch idempotence contract."""
    import glob as _glob

    from transcription_lakehouse_spark.streaming.ingest import stream_ingest

    d = tmp_path / "ingest_in"
    d.mkdir()
    _write_jsonl(d, "a.jsonl", n=15)
    lake = str(tmp_path / "slake")

    q = stream_ingest(spark, str(d), lake, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    n1 = spark.read.parquet(f"{lake}/normalized/v1").count()
    assert n1 == 15

    # fresh checkpoint = full replay of the same input
    q = stream_ingest(spark, str(d), lake, str(tmp_path / "ck2"))
    q.awaitTermination(120)
    back = spark.read.parquet(f"{lake}/normalized/v1")
    assert back.count() == 15
    assert back.select("utterance_id").distinct().count() == 15


def test_multimodal_plumbing(spark):
    rows = [
        ("m1", "image", b"\x89PNGfake", 64, 64, None, "png"),
        ("m2", "video", b"fakevid", 320, 240, 3.5, "h264"),
        ("m3", "audio", b"fakewav", None, None, 2.0, "wav"),
    ]
    df = media_table(
        spark.createDataFrame(
            rows,
            "media_id string, media_type string, payload binary, width long, "
            "height long, duration_sec double, codec string",
        )
    )
    feats = extract_features(df).collect()
    assert len(feats) == 3 and all(len(r["features"]) == 32 for r in feats)
    # deterministic: same payload -> same features
    again = extract_features(df).collect()
    assert {r["media_id"]: r["features"] for r in feats} == {
        r["media_id"]: r["features"] for r in again
    }
    frames = sample_frames(df, every_sec=1.0).collect()
    assert len(frames) == 4  # video 3.5s -> offsets 0,1,2,3

    from transcription_lakehouse_spark.multimodal import resize_media

    resized = resize_media(
        df, 8, 8, resize_fn=lambda p, w, h: p[: w * h]
    ).collect()
    assert len(resized) == 1  # only the image row
    assert (resized[0]["width"], resized[0]["height"]) == (8, 8)

    import pytest as _pytest

    with _pytest.raises(Exception, match="NotImplementedError|resize_media"):
        resize_media(df).collect()  # stubbed decode surfaces clearly


def test_media_metadata_filter_pushes_below_decode(spark, tmp_path):
    """The 100 TB multimodal contract: metadata predicates must reach the
    parquet scan so undecodable rows are pruned BEFORE any payload crosses
    into the Arrow decode kernel."""
    rows = [
        ("m1", "image", b"\x89PNGfake", 64, 64, None, "png"),
        ("m2", "video", b"fakevid", 320, 240, 3.5, "h264"),
        ("m3", "audio", b"fakewav", None, None, 2.0, "wav"),
    ]
    src = media_table(
        spark.createDataFrame(
            rows,
            "media_id string, media_type string, payload binary, width long, "
            "height long, duration_sec double, codec string",
        )
    )
    path = str(tmp_path / "media")
    src.write.parquet(path)
    m = spark.read.parquet(path)
    feats = extract_features(m.filter(F.col("media_type") == "image"))
    plan = feats._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("PushedFilters") :][:250]
    assert "media_type" in scan, plan  # predicate reached the scan
    got = feats.collect()
    assert [r["media_id"] for r in got] == ["m1"]


def test_parquet_info_and_partitioned_embeddings(spark, tmp_path):
    from transcription_lakehouse_spark.embeddings import store_embeddings
    from transcription_lakehouse_spark.ingestion import parquet_info

    df = spark.createDataFrame([("a", "x"), ("b", "y")], "id string, text string")
    span_e = generate_embeddings(df, "id", "text", "span")
    beat_e = generate_embeddings(df, "id", "text", "beat")
    store = str(tmp_path / "emb")
    store_embeddings(span_e.unionByName(beat_e), store)
    back = spark.read.parquet(store)
    assert back.count() == 4
    # partition pruning path: artifact_type is a partition column
    assert back.filter("artifact_type = 'span'").count() == 2

    _write_jsonl(tmp_path, "p.jsonl", n=10)
    lake = str(tmp_path / "lk")
    pipeline.ingest(spark, str(tmp_path / "p.jsonl"), lake)
    info = parquet_info(spark, f"{lake}/normalized/v1")
    assert info["rows"] == 10 and info["n_files"] >= 1 and "utterance_id" in info["schema"]


def test_read_transcripts_autodetect(spark, tmp_path):
    import json as _json

    from transcription_lakehouse_spark.sources.transcripts import read_transcripts

    jl = tmp_path / "x.jsonl"
    jl.write_text('{"episode_id":"e","start":0.0,"end":1.0,"speaker":"s","text":"t"}\n')
    js = tmp_path / "y.json"
    js.write_text(_json.dumps({"utterances": [
        {"episode_id": "e2", "start": 0.0, "end": 1.0, "speaker": "s", "text": "t"}]}))
    assert read_transcripts(spark, str(jl)).count() == 1
    out = read_transcripts(spark, str(js)).collect()
    assert len(out) == 1 and out[0]["episode_id"] == "e2"


def test_stateful_sessionize_emits_closed_spans(spark, tmp_path):
    import json as _json

    from transcription_lakehouse_spark.schemas import RAW_UTTERANCE_SCHEMA
    from transcription_lakehouse_spark.streaming.stateful import stateful_sessionize

    d = tmp_path / "stateful_in"
    d.mkdir()
    rows = [
        # speaker A: two utterances 0.3s apart (one span), then a 100s gap
        # (closes it), then a trailing open span
        {"episode_id": "E", "start": 0.0, "end": 1.0, "speaker": "A", "text": "x"},
        {"episode_id": "E", "start": 1.3, "end": 2.0, "speaker": "A", "text": "x"},
        {"episode_id": "E", "start": 102.0, "end": 103.0, "speaker": "A", "text": "x"},
        # speaker B: single utterance — stays open, never emitted
        {"episode_id": "E", "start": 0.0, "end": 5.0, "speaker": "B", "text": "x"},
    ]
    (d / "a.jsonl").write_text("\n".join(_json.dumps(r) for r in rows))
    stream = spark.readStream.schema(RAW_UTTERANCE_SCHEMA).json(str(d))
    q = (
        stateful_sessionize(stream, gap_sec=0.5, idle_timeout_ms=None)
        .writeStream.format("memory")
        .queryName("stateful_sess")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM stateful_sess").collect()
    # only A's first span closed (the 100s gap); open spans stay in state
    assert len(got) == 1
    r = got[0]
    assert (r["speaker"], r["n_utterances"]) == ("A", 2)
    assert (r["session_start"], r["session_end"]) == (0.0, 2.0)


def test_stateful_sessionize_carries_state_across_batches(spark, tmp_path):
    """Cross-batch state is the operator's point: a session split across
    micro-batches must merge, and the closed output must equal what the
    batch sessionizer (W2) computes on the same rows."""
    import json as _json

    from transcription_lakehouse_spark.operators.sessionization import (
        with_session_id,
    )
    from transcription_lakehouse_spark.schemas import RAW_UTTERANCE_SCHEMA
    from transcription_lakehouse_spark.streaming.stateful import stateful_sessionize

    d = tmp_path / "stateful_multi"
    d.mkdir()
    batches = [
        [(0.0, 1.0), (1.5, 2.0)],          # opens session 1
        [(2.3, 3.0), (100.0, 101.0)],      # continues s1, then closes it
        [(200.0, 201.0)],                  # closes session 2, opens s3
    ]
    import os as _os

    for i, rows in enumerate(batches):
        p = d / f"{chr(97 + i)}.jsonl"
        p.write_text(
            "\n".join(
                _json.dumps(
                    {
                        "episode_id": "E",
                        "start": s,
                        "end": e,
                        "speaker": "A",
                        "text": "x",
                    }
                )
                for s, e in rows
            )
        )
        # the file source orders batches by modification time — make the
        # intended order unambiguous
        _os.utime(p, (1_000_000 + i * 60, 1_000_000 + i * 60))
    stream = (
        spark.readStream.schema(RAW_UTTERANCE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        stateful_sessionize(stream, gap_sec=5.0, idle_timeout_ms=None)
        .writeStream.format("memory")
        .queryName("stateful_multi")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r["session_start"], r["session_end"], r["n_utterances"])
        for r in spark.sql("SELECT * FROM stateful_multi").collect()
    )

    # batch twin over the union of all rows (session 3 stays open in the
    # stream, so compare against all-but-last batch sessions)
    all_rows = [
        ("E", s, e, "A", "x") for rows in batches for (s, e) in rows
    ]
    batch_df = spark.createDataFrame(
        all_rows,
        "episode_id string, start double, end double, speaker string, text string",
    )
    import pyspark.sql.functions as F

    sessions = (
        with_session_id(
            batch_df.withColumn("start_us", (F.col("start") * 1e6).cast("long"))
            .withColumn("end_us", (F.col("end") * 1e6).cast("long")),
            ["episode_id", "speaker"],
            "start_us",
            int(5.0 * 1e6),
            prev_end_col="end_us",
        )
        .groupBy("session_id")
        .agg(
            F.min("start").alias("s"),
            F.max("end").alias("e"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("s")
        .collect()
    )
    want = sorted((r["s"], r["e"], r["n"]) for r in sessions)[:-1]
    assert got == want, (got, want)


def test_streaming_dedup_drops_repeated_fingerprints(spark, tmp_path):
    """Streaming exact dedup: normalized-text fingerprints repeated within
    the watermark are dropped; distinct texts survive. State is bounded by
    the event-time watermark (dropDuplicatesWithinWatermark)."""
    import json as _json

    from transcription_lakehouse_spark.streaming.ingest import streaming_dedup

    d = tmp_path / "dedup_in"
    d.mkdir()
    rows = [
        {"episode_id": "E", "start": 0.0, "end": 1.0, "speaker": "A", "text": "Same  Text"},
        {"episode_id": "E", "start": 1.0, "end": 2.0, "speaker": "B", "text": "same text "},
        {"episode_id": "E", "start": 2.0, "end": 3.0, "speaker": "A", "text": "different"},
    ]
    (d / "a.jsonl").write_text("\n".join(_json.dumps(r) for r in rows))
    q = (
        streaming_dedup(spark, str(d))
        .writeStream.format("memory")
        .queryName("stream_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT text FROM stream_dedup").collect()
    # whitespace-collapse + lowercase makes the first two rows one fingerprint
    assert len(got) == 2
    assert {r["text"] for r in got} == {"Same  Text", "different"} or {
        r["text"] for r in got
    } == {"same text ", "different"}


def test_stream_index_update_builds_then_appends(spark, tmp_path):
    """Streamed artifacts flow through the shared embedder into the vector
    index; a second batch appends only NEW ids (anti-join idempotence), and
    a replay of the same files is a no-op."""
    import json as _json

    from transcription_lakehouse_spark.streaming.ingest import stream_index_update

    d = tmp_path / "idx_in"
    d.mkdir()
    idx = str(tmp_path / "stream_idx")
    ck = str(tmp_path / "ck")

    (d / "a.jsonl").write_text(
        "\n".join(
            _json.dumps({"artifact_id": f"a{i}", "text": f"first batch doc {i}"})
            for i in range(8)
        )
    )
    q = stream_index_update(spark, str(d), idx, ck)
    q.awaitTermination(120)
    assert spark.read.parquet(idx).count() == 8

    # second file: 4 new + 4 already-indexed ids
    (d / "b.jsonl").write_text(
        "\n".join(
            _json.dumps({"artifact_id": f"{p}{i}", "text": f"second {i}"})
            for p, i in [("a", 0), ("a", 1), ("a", 2), ("a", 3), ("b", 0), ("b", 1), ("b", 2), ("b", 3)]
        )
    )
    q = stream_index_update(spark, str(d), idx, ck)
    q.awaitTermination(120)
    back = spark.read.parquet(idx)
    assert back.count() == 12  # 8 + 4 new, replayed ids skipped
    assert back.select("artifact_id").distinct().count() == 12


def test_stream_ivf_update_appends_and_drift_rebuilds(spark, tmp_path):
    """Streaming IVF maintenance with the quantizer lifecycle: batch 1
    builds the index; a flood batch of one repeated text (one point
    mass -> occupancy collapses into one cell) crosses the PSI bar and
    retrains the centroids in-sink; replaying the same files appends
    nothing and cannot rebuild twice (rebased baseline)."""
    import json as _json

    from transcription_lakehouse_spark.indexing import read_index_meta
    from transcription_lakehouse_spark.streaming.ingest import (
        stream_ivf_update,
    )

    d = tmp_path / "ivf_in"
    d.mkdir()
    idx = str(tmp_path / "stream_ivf")
    ck = str(tmp_path / "ck_ivf")

    (d / "a.jsonl").write_text("\n".join(
        _json.dumps({"artifact_id": f"a{i}",
                     "text": f"distinct topic number {i} with words {i}"})
        for i in range(8)
    ))
    q = stream_ivf_update(spark, str(d), idx, ck, n_cells=4)
    q.awaitTermination(120)
    meta0 = read_index_meta(idx)
    assert meta0["kind"] == "ivf" and meta0["rows"] == 8

    # flood: 60 ids, ONE text -> one point mass in embedding space
    (d / "b.jsonl").write_text("\n".join(
        _json.dumps({"artifact_id": f"b{i}", "text": "flood flood flood"})
        for i in range(60)
    ))
    q = stream_ivf_update(spark, str(d), idx, ck, n_cells=4)
    q.awaitTermination(120)
    meta1 = read_index_meta(idx)
    assert meta1["rows"] == 68
    assert meta1["centroids"] != meta0["centroids"]   # retrained in-sink
    assert spark.read.parquet(idx).count() == 68

    # full replay from a fresh checkpoint: anti-join skips every id,
    # nothing appends, the rebased baseline keeps PSI ~0 -> no rebuild
    q = stream_ivf_update(spark, str(d), idx, str(tmp_path / "ck2"),
                          n_cells=4)
    q.awaitTermination(120)
    meta2 = read_index_meta(idx)
    assert meta2["rows"] == 68
    assert meta2["centroids"] == meta1["centroids"]


def test_stream_cluster_update_maintains_dup_clusters(spark, tmp_path):
    """Streaming dup-cluster maintenance (batch dedup pipeline's streaming
    twin): batch 1 forms a 2-doc cluster; replaying the same docs causes
    ZERO keeper churn; a new near-dup doc joins its existing cluster."""
    import json as _json

    from transcription_lakehouse_spark.streaming.ingest import (
        read_versioned_state,
        stream_cluster_update,
    )

    d = tmp_path / "docs_in"
    d.mkdir()
    state = str(tmp_path / "cluster_state")
    ck = str(tmp_path / "ck")

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the fence and the birds sing in the morning light"
    )
    docs1 = [
        {"doc_id": "a1", "text": base},
        {"doc_id": "a2", "text": base + " today"},  # near-dup of a1
        {"doc_id": "b1", "text": "completely different content about "
                                 "spacecraft navigation systems and orbital "
                                 "mechanics for deep space missions"},
    ]
    (d / "one.jsonl").write_text("\n".join(_json.dumps(r) for r in docs1))
    q = stream_cluster_update(spark, str(d), state, ck)
    q.awaitTermination(120)

    clusters = {
        r["doc_id"]: (r["component_id"], r["is_keeper"])
        for r in read_versioned_state(spark, f"{state}/clusters").collect()
    }
    # a1/a2 cluster with a1 the keeper; b1 is a singleton (not emitted)
    assert clusters == {"a1": ("a1", True), "a2": ("a1", False)}

    # replay: same doc ids in a new file — anti-join makes it a no-op
    (d / "two.jsonl").write_text("\n".join(_json.dumps(r) for r in docs1))
    q = stream_cluster_update(spark, str(d), state, ck)
    q.awaitTermination(120)
    replayed = {
        r["doc_id"]: (r["component_id"], r["is_keeper"])
        for r in read_versioned_state(spark, f"{state}/clusters").collect()
    }
    assert replayed == clusters  # zero keeper churn
    assert spark.read.parquet(f"{state}/corpus").count() == 3

    # a new near-dup of a2 joins the existing cluster; keeper unchanged
    (d / "three.jsonl").write_text(
        _json.dumps({"doc_id": "a3", "text": base + " tonight"})
    )
    q = stream_cluster_update(spark, str(d), state, ck)
    q.awaitTermination(120)
    grown = {
        r["doc_id"]: (r["component_id"], r["is_keeper"])
        for r in read_versioned_state(spark, f"{state}/clusters").collect()
    }
    assert grown == {
        "a1": ("a1", True),
        "a2": ("a1", False),
        "a3": ("a1", False),
    }


def test_stream_cluster_update_survives_partial_failure_replay(spark, tmp_path):
    """Crash-safety contract: bands/pairs written but corpus NOT yet
    appended (the crash window) must leave the state fully recoverable —
    the replay re-runs the batch, duplicate band/pair rows are harmless,
    and the final clusters/corpus match the clean run."""
    import json as _json

    from transcription_lakehouse_spark.operators.dedup import (
        minhash_signature,
        signature_bands,
    )
    from transcription_lakehouse_spark.streaming.ingest import (
        read_versioned_state,
        stream_cluster_update,
    )

    d = tmp_path / "docs_in"
    d.mkdir()
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the fence and the birds sing in the morning light"
    )
    docs = [
        {"doc_id": "a1", "text": base},
        {"doc_id": "a2", "text": base + " today"},
    ]
    (d / "one.jsonl").write_text("\n".join(_json.dumps(r) for r in docs))

    # simulate the crash window: bands + pairs durable, corpus absent
    df = spark.createDataFrame([(r["doc_id"], r["text"]) for r in docs],
                               "doc_id string, text string")
    pre_bands = signature_bands(minhash_signature(df, "doc_id", "text"), "doc_id")
    pre_bands.write.mode("append").parquet(f"{state}/bands")
    spark.createDataFrame([("a1", "a2")], "doc_id_1 string, doc_id_2 string") \
        .write.mode("append").parquet(f"{state}/pairs")

    # the stream replays the batch from scratch (corpus gate still open)
    q = stream_cluster_update(spark, str(d), state, ck)
    q.awaitTermination(120)

    clusters = {
        r["doc_id"]: (r["component_id"], r["is_keeper"])
        for r in read_versioned_state(spark, f"{state}/clusters").collect()
    }
    assert clusters == {"a1": ("a1", True), "a2": ("a1", False)}
    # corpus has each doc exactly once; duplicated pairs/bands tolerated
    corpus = spark.read.parquet(f"{state}/corpus")
    assert corpus.count() == 2
    assert corpus.select("doc_id").distinct().count() == 2
    assert spark.read.parquet(f"{state}/pairs").distinct().count() == 1


def test_stream_hll_update_matches_batch_estimate(spark, tmp_path):
    """Streaming HLL register maintenance: after two micro-batch rounds the
    persisted registers equal the batch registers over the union (merge by
    max), the streamed estimate equals the batch estimate, and replaying a
    batch is a no-op."""
    import json as _json

    from transcription_lakehouse_spark.operators.sketches import (
        hll_cardinality,
        hll_estimate_from_registers,
    )
    from transcription_lakehouse_spark.streaming.ingest import (
        read_versioned_state,
        stream_hll_update,
    )

    d = tmp_path / "hll_in"
    d.mkdir()
    state = str(tmp_path / "hll_state")
    ck = str(tmp_path / "ck")

    rows1 = [{"event_type": "click", "user_id": i} for i in range(400)]
    rows2 = [{"event_type": "click", "user_id": i} for i in range(200, 600)] + [
        {"event_type": "view", "user_id": i} for i in range(50)
    ]
    (d / "one.jsonl").write_text("\n".join(_json.dumps(r) for r in rows1))
    q = stream_hll_update(spark, str(d), state, ck)
    q.awaitTermination(120)
    (d / "two.jsonl").write_text("\n".join(_json.dumps(r) for r in rows2))
    q = stream_hll_update(spark, str(d), state, ck)
    q.awaitTermination(120)

    streamed = {
        r["event_type"]: r["harmonic_sum_scaled"]
        for r in hll_estimate_from_registers(
            read_versioned_state(spark, state), ["event_type"]
        ).collect()
    }
    all_rows = spark.createDataFrame(
        rows1 + rows2, "event_type string, user_id long"
    )
    batch = {
        r["event_type"]: r["harmonic_sum_scaled"]
        for r in hll_cardinality(all_rows, "user_id", ["event_type"]).collect()
    }
    assert streamed == batch  # register-exact, not just estimate-close

    # replay: same file content again -> max merge is a no-op
    (d / "three.jsonl").write_text("\n".join(_json.dumps(r) for r in rows2))
    q = stream_hll_update(spark, str(d), state, ck)
    q.awaitTermination(120)
    replayed = {
        r["event_type"]: r["harmonic_sum_scaled"]
        for r in hll_estimate_from_registers(
            read_versioned_state(spark, state), ["event_type"]
        ).collect()
    }
    assert replayed == streamed

    # versioned-store contract: exactly one COMPLETE version remains
    # after pruning, and an incomplete dir (no _SUCCESS — the crash
    # window mid-write) is invisible to the reader
    import os

    vdirs = [n for n in os.listdir(state) if n.startswith("v=")]
    assert len(vdirs) == 1, vdirs
    os.makedirs(os.path.join(state, "v=99"))  # crashed write: no _SUCCESS
    survivors = {
        r["event_type"]: r["harmonic_sum_scaled"]
        for r in hll_estimate_from_registers(
            read_versioned_state(spark, state), ["event_type"]
        ).collect()
    }
    assert survivors == streamed  # accumulated registers not lost


def test_streaming_quality_stats_windows(spark, tmp_path):
    """Tumbling-window quality monitor: utterances land in their event-time
    windows and the token battery matches the batch computation."""
    import json as _json

    from transcription_lakehouse_spark.streaming.ingest import streaming_quality_stats

    d = tmp_path / "quality_in"
    d.mkdir()
    rows = [
        {"episode_id": "E", "start": 5.0, "end": 6.0, "speaker": "A", "text": "one two three"},
        {"episode_id": "E", "start": 30.0, "end": 32.0, "speaker": "B", "text": "four five"},
        {"episode_id": "E", "start": 65.0, "end": 66.0, "speaker": "A", "text": "six"},
    ]
    (d / "a.jsonl").write_text("\n".join(_json.dumps(r) for r in rows))
    q = (
        streaming_quality_stats(spark, str(d), window="60 seconds")
        .writeStream.format("memory")
        .queryName("stream_quality")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["window"]["start"].second + r["window"]["start"].minute * 60: r
        for r in spark.sql("SELECT * FROM stream_quality").collect()
    }
    assert set(got) == {0, 60}
    w0, w1 = got[0], got[60]
    assert (w0["n_utterances"], w0["total_tokens"]) == (2, 5)
    assert abs(w0["spoken_seconds"] - 3.0) < 1e-9
    assert (w1["n_utterances"], w1["total_tokens"]) == (1, 1)


def test_streaming_session_stats(spark, tmp_path):
    import json as _json

    from transcription_lakehouse_spark.streaming.ingest import streaming_session_stats

    d = tmp_path / "stream_in"
    d.mkdir()
    rows = [
        {"episode_id": "E", "start": t, "end": t + 1.0, "speaker": "A", "text": "x"}
        for t in (0.0, 1.2, 10.0)  # 1.2 gap>0.5 breaks? no: start-to-start; sessions by gap
    ]
    (d / "a.jsonl").write_text("\n".join(_json.dumps(r) for r in rows))
    sdf = streaming_session_stats(spark, str(d), gap="2 seconds")
    q = (
        sdf.writeStream.format("memory")
        .queryName("sess")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM sess").collect()
    # events at 0.0 and 1.2 merge (gap < 2s); 10.0 is its own session
    assert len(got) == 2
    assert sorted(r["n_utterances"] for r in got) == [1, 2]


def test_stateful_sessionize_late_row_expands_open_span_start():
    """A cross-batch late row older than the open span must expand
    session_start (stateful.py's documented late-data contract), not just
    session_end. Drives the kernel directly with a fake GroupState."""
    import pandas as pd

    from transcription_lakehouse_spark.streaming.stateful import _make_session_fn

    class FakeState:
        hasTimedOut = False

        def __init__(self):
            self._tuple = None

        @property
        def exists(self):
            return self._tuple is not None

        @property
        def get(self):
            return self._tuple

        def update(self, t):
            self._tuple = t

        def remove(self):
            self._tuple = None

    fn = _make_session_fn(gap_sec=5.0, idle_timeout_ms=None)
    state = FakeState()
    key = ("E", "A")

    # batch 1 opens span (10.0, 12.0)
    b1 = pd.DataFrame({"start": [10.0], "end": [12.0]})
    assert list(fn(key, iter([b1]), state)) == []  # nothing closed yet
    assert state.get == (10.0, 12.0, 1)

    # batch 2 delivers a LATE row (8.0, 9.0): within gap of the open span,
    # so it merges — and the span's start must move back to 8.0
    b2 = pd.DataFrame({"start": [8.0], "end": [9.0]})
    assert list(fn(key, iter([b2]), state)) == []
    assert state.get == (8.0, 12.0, 2)

    # a far-future row closes the span; the emitted start is the late one
    b3 = pd.DataFrame({"start": [100.0], "end": [101.0]})
    out = pd.concat(list(fn(key, iter([b3]), state)), ignore_index=True)
    assert out["session_start"].tolist() == [8.0]
    assert out["session_end"].tolist() == [12.0]
    assert out["n_utterances"].tolist() == [2]


def test_streaming_annotation_join(spark, tmp_path):
    """Stream-stream join: annotations attach to the same-episode utterance
    within the time bound; out-of-range and cross-episode ones drop."""
    import json as _json

    from transcription_lakehouse_spark.streaming.joins import (
        streaming_annotation_join,
    )

    u = tmp_path / "utter_in"
    a = tmp_path / "ann_in"
    u.mkdir(); a.mkdir()
    utts = [
        {"episode_id": "E1", "start": 10.0, "end": 12.0, "speaker": "A", "text": "hello"},
        {"episode_id": "E1", "start": 100.0, "end": 101.0, "speaker": "B", "text": "later"},
        {"episode_id": "E2", "start": 10.0, "end": 11.0, "speaker": "C", "text": "other"},
    ]
    anns = [
        {"episode_id": "E1", "at": 15.0, "label": "laughter"},   # in window of E1@10
        {"episode_id": "E1", "at": 60.0, "label": "too-late"},   # >30s after E1@10, <E1@100
        {"episode_id": "E2", "at": 12.0, "label": "applause"},   # E2 only
    ]
    (u / "u.jsonl").write_text("\n".join(_json.dumps(r) for r in utts))
    (a / "a.jsonl").write_text("\n".join(_json.dumps(r) for r in anns))
    q = (
        streaming_annotation_join(spark, str(u), str(a))
        .writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["episode_id"], r["label"], r["lag_seconds"])
        for r in spark.sql("SELECT * FROM ss_join").collect()
    )
    assert got == [("E1", "laughter", 5.0), ("E2", "applause", 2.0)]


def test_streaming_quality_stats_sliding(spark, tmp_path):
    """Sliding monitor: one utterance at t=70 lands in BOTH the [30,90) and
    [60,120) windows (60s window, 30s slide)."""
    import json as _json

    from transcription_lakehouse_spark.streaming.ingest import streaming_quality_stats

    d = tmp_path / "slide_in"
    d.mkdir()
    rows = [{"episode_id": "E", "start": 70.0, "end": 71.0, "speaker": "A",
             "text": "hello world"}]
    (d / "a.jsonl").write_text("\n".join(_json.dumps(r) for r in rows))
    q = (
        streaming_quality_stats(spark, str(d), window="60 seconds",
                                slide="30 seconds")
        .writeStream.format("memory")
        .queryName("slide_quality")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    starts = sorted(
        r["window"]["start"].minute * 60 + r["window"]["start"].second
        for r in spark.sql("SELECT * FROM slide_quality").collect()
    )
    assert starts == [30, 60]


def test_streaming_role_enrichment(spark, tmp_path):
    """Stream-static broadcast join: roles attach in-flight, unknown
    speakers fall back to the default role."""
    import json as _json

    from transcription_lakehouse_spark.speaker_roles import SpeakerRoleConfig
    from transcription_lakehouse_spark.streaming.joins import (
        streaming_role_enrichment,
    )

    d = tmp_path / "enrich_in"
    d.mkdir()
    rows = [
        {"episode_id": "E", "start": 1.0, "end": 2.0, "speaker": "Dr. A", "text": "x"},
        {"episode_id": "E", "start": 3.0, "end": 4.0, "speaker": "Random", "text": "y"},
    ]
    (d / "u.jsonl").write_text("\n".join(_json.dumps(r) for r in rows))
    cfg = SpeakerRoleConfig(experts=["Dr. A"], roles={"Dr. A": "expert"})
    q = (
        streaming_role_enrichment(spark, str(d), cfg)
        .writeStream.format("memory")
        .queryName("ss_enrich")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["speaker"]: (r["speaker_role"], r["is_expert"])
        for r in spark.sql("SELECT * FROM ss_enrich").collect()
    }
    assert got == {"Dr. A": ("expert", True), "Random": ("other", False)}


def test_rag_chunk_embed_index_search_roundtrip(spark, tmp_path):
    """End-to-end RAG prep: chunk documents -> embed chunks (hash double)
    -> build the LSH index -> search with a chunk's own text and get that
    chunk back as the top hit (the deterministic provider embeds equal
    text identically)."""
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark.embeddings import generate_embeddings
    from transcription_lakehouse_spark.indexing import build_index, search
    from transcription_lakehouse_spark.workload.text import doc_rag_chunks

    chunks = doc_rag_chunks(spark, "/root/testdata/sf0.001").withColumn(
        "chunk_key",
        F.concat_ws(":", F.col("doc_id").cast("string"), F.col("chunk_id")),
    )
    emb = generate_embeddings(chunks, "chunk_key", "chunk_text", "chunk")
    idx_path = str(tmp_path / "chunk_index")
    build_index(emb, idx_path)
    corpus = spark.read.parquet(idx_path)
    assert corpus.count() == chunks.count()

    probe_row = chunks.orderBy("doc_id", "chunk_id").limit(1).collect()[0]
    probe = generate_embeddings(
        spark.createDataFrame(
            [("probe", probe_row["chunk_text"])], "chunk_key string, chunk_text string"
        ),
        "chunk_key",
        "chunk_text",
        "chunk",
    )
    hits = search(
        probe, corpus, id_col="artifact_id", k=3,
        corpus_rows=corpus.count(),
    ).collect()
    # the fixture contains chunks with IDENTICAL text (replica docs), so
    # several neighbors can tie at sim=1.0 — assert membership among the
    # perfect-similarity hits, not strict top-1 (tie order is an id sort)
    perfect = {h["neighbor_id"] for h in hits if abs(h["sim"] - 1.0) < 1e-6}
    assert f"{probe_row['doc_id']}:{probe_row['chunk_id']}" in perfect, hits


def test_read_state_distinguishes_missing_from_corrupt(spark, tmp_path):
    """ADVICE r3 (medium): a transient/corrupt read of persisted streaming
    state must ABORT the micro-batch, not silently count as 'first batch'
    and overwrite accumulated state with only the current delta."""
    import pytest

    from transcription_lakehouse_spark.streaming.ingest import _read_state

    missing = str(tmp_path / "does_not_exist")
    assert _read_state(spark, missing) is None

    corrupt_dir = tmp_path / "state"
    corrupt_dir.mkdir()
    (corrupt_dir / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception) as exc:
        _read_state(spark, str(corrupt_dir))
    # the failure must surface, not be swallowed into None
    assert exc.value is not None


def _make_wav(
    freq_hz: float | None,
    sr: int = 8000,
    seconds: float = 0.5,
    bits: int = 16,
    channels: int = 1,
    amplitude: float = 0.5,
) -> bytes:
    """Generate a PCM WAV in pure python: a sine at freq_hz, or silence
    when freq_hz is None. Test-local twin of what a recorder produces."""
    import struct

    import numpy as np

    n = int(sr * seconds)
    t = np.arange(n) / sr
    x = (
        amplitude * np.sin(2 * np.pi * freq_hz * t)
        if freq_hz
        else np.zeros(n)
    )
    if channels > 1:
        x = np.repeat(x[:, None], channels, axis=1).ravel()
    if bits == 16:
        pcm = (x * 32767).astype("<i2").tobytes()
    elif bits == 8:
        pcm = ((x * 127) + 128).astype("u1").tobytes()
    else:
        raise ValueError(bits)
    block_align = channels * bits // 8
    hdr = b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, channels, sr, sr * block_align, block_align, bits
    )
    data = b"data" + struct.pack("<I", len(pcm)) + pcm
    return hdr + fmt + data


def test_wav_decode_end_to_end(spark, tmp_path):
    """Real audio decode path (no codec libs needed): generated WAV corpus
    → binary media table (parquet round-trip) → decode → feature column →
    quality stats. Pins physical correctness, not just plumbing: silence
    has ~zero RMS, a louder tone has higher RMS, a higher-frequency tone
    has a higher zero-crossing rate and a higher spectral peak band, and
    stereo/8-bit variants decode to the same waveform as mono/16-bit."""
    import numpy as np

    from transcription_lakehouse_spark.ingestion import write_versioned
    from transcription_lakehouse_spark.multimodal import (
        audio_stats,
        decode_wav,
        extract_features,
        media_table,
        wav_feature_extractor,
    )

    clips = [
        ("tone_440", _make_wav(440.0)),
        ("tone_1760", _make_wav(1760.0)),
        ("tone_440_loud", _make_wav(440.0, amplitude=0.9)),
        ("tone_440_stereo", _make_wav(440.0, channels=2)),
        ("tone_440_8bit", _make_wav(440.0, bits=8)),
        ("silence", _make_wav(None)),
    ]
    rows = [
        (mid, "audio", payload, None, None, 0.5, "pcm") for mid, payload in clips
    ]
    media = media_table(
        spark.createDataFrame(
            rows,
            "media_id string, media_type string, payload binary, "
            "width long, height long, duration_sec double, codec string",
        )
    )
    # binary payloads survive a parquet round-trip
    path = write_versioned(media, str(tmp_path), "media", "v1")
    media = spark.read.parquet(path)

    stats = {r["media_id"]: r for r in audio_stats(media).collect()}
    assert stats["silence"]["rms"] < 1e-6
    assert stats["silence"]["silence_ratio"] == 1.0
    assert stats["tone_440"]["rms"] > 0.3
    assert stats["tone_440_loud"]["rms"] > stats["tone_440"]["rms"]
    assert abs(stats["tone_440"]["duration_sec"] - 0.5) < 1e-9
    assert stats["tone_440"]["sample_rate"] == 8000
    assert stats["tone_440"]["clipping_ratio"] < 0.01

    dim = 16
    feats = {
        r["media_id"]: np.array(r["features"])
        for r in extract_features(
            media, decode_fn=wav_feature_extractor(dim), dim=dim
        ).collect()
    }
    # layout: [duration, rms, zcr, bands...]
    assert feats["tone_1760"][2] > feats["tone_440"][2] * 2  # zcr scales with f
    assert np.argmax(feats["tone_1760"][3:]) > np.argmax(feats["tone_440"][3:])
    assert feats["silence"][3:].sum() < 1e-9

    # stereo downmix and 8-bit quantization reproduce the mono/16-bit wave
    sr, mono = decode_wav(clips[0][1])
    _, stereo = decode_wav(clips[3][1])
    _, eight = decode_wav(clips[4][1])
    assert sr == 8000
    assert np.abs(mono - stereo).max() < 1e-4
    assert np.abs(mono - eight).max() < 0.02  # 8-bit quantization error

    # corrupt payload fails loudly, not silently
    import pytest

    with pytest.raises(Exception, match="RIFF"):
        decode_wav(b"garbage not a wav")


def test_bmp_decode_end_to_end(spark, tmp_path):
    """Real image decode path (no codec libs needed): generated BMP corpus
    → binary media table (parquet round-trip) → decode → feature column →
    quality stats → REAL resize. Pins physical correctness: a solid image
    has zero contrast/edges, a checkerboard has maximal edge density, a
    half-black/half-white split lands its mean between them, 8-bit palette
    and 32-bit BGRA variants decode identically to the 24-bit truth, and
    encode→decode round-trips exactly."""
    import numpy as np
    import pytest

    from transcription_lakehouse_spark.ingestion import write_versioned
    from transcription_lakehouse_spark.multimodal import (
        bmp_resize_fn,
        decode_bmp,
        encode_bmp,
        extract_features,
        image_feature_extractor,
        image_stats,
        media_table,
        resize_media,
    )

    def solid(w, h, rgb):
        return np.full((h, w, 3), rgb, dtype=np.uint8)

    checker = np.zeros((16, 16, 3), dtype=np.uint8)
    checker[(np.indices((16, 16)).sum(axis=0) % 2) == 1] = 255
    half = np.zeros((16, 16, 3), dtype=np.uint8)
    half[:, 8:] = 255
    # width 15 exercises the 4-byte row-padding path (15*3 = 45 → stride 48)
    images = [
        ("white", solid(15, 9, (255, 255, 255))),
        ("black", solid(15, 9, (0, 0, 0))),
        ("red", solid(16, 16, (255, 0, 0))),
        ("checker", checker),
        ("half", half),
    ]
    rows = [
        (mid, "image", encode_bmp(px), px.shape[1], px.shape[0], None, "bmp")
        for mid, px in images
    ]
    media = media_table(
        spark.createDataFrame(
            rows,
            "media_id string, media_type string, payload binary, "
            "width long, height long, duration_sec double, codec string",
        )
    )
    path = write_versioned(media, str(tmp_path), "media", "v1")
    media = spark.read.parquet(path)

    # exact encode→decode round-trip (incl. the padded-width image)
    for _, px in images:
        assert np.array_equal(decode_bmp(encode_bmp(px)), px)

    stats = {r["media_id"]: r for r in image_stats(media).collect()}
    assert stats["white"]["mean_luma"] == pytest.approx(1.0)
    assert stats["white"]["std_luma"] < 1e-12
    assert stats["white"]["edge_density"] < 1e-12
    assert stats["black"]["dark_ratio"] == 1.0
    assert stats["white"]["bright_ratio"] == 1.0
    assert stats["half"]["mean_luma"] == pytest.approx(0.5, abs=0.01)
    assert stats["checker"]["edge_density"] > stats["half"]["edge_density"] > 0
    assert stats["white"]["width"] == 15 and stats["white"]["height"] == 9
    # Rec.601: red is darker than white but not black
    assert 0.2 < stats["red"]["mean_luma"] < 0.4

    dim = 16
    feats = {
        r["media_id"]: np.array(r["features"])
        for r in extract_features(
            media, decode_fn=image_feature_extractor(dim), dim=dim
        ).collect()
    }
    # layout: [w, h, aspect, mean, std, edges, hist...]
    assert feats["white"][0] == 15 and feats["white"][1] == 9
    hist_white = feats["white"][6:]
    assert hist_white[-1] == pytest.approx(1.0)  # all mass in the top bin
    assert feats["checker"][5] > feats["white"][5]

    # REAL resize: checkerboard 16x16 → 8x8 via nearest neighbor stays a
    # checkerboard sampled at even indices (all-black under this phase)
    resized = {
        r["media_id"]: r
        for r in resize_media(media, 8, 8, resize_fn=bmp_resize_fn).collect()
    }
    small = decode_bmp(bytes(resized["checker"]["payload"]))
    assert small.shape == (8, 8, 3)
    assert np.array_equal(small, decode_bmp(encode_bmp(checker))[::2, ::2])
    assert resized["white"]["width"] == 8 and resized["white"]["height"] == 8

    # 32-bit BGRA and 8-bit palette variants decode to the 24-bit truth
    px = images[3][1]  # checker
    h, w = px.shape[:2]
    bgra = np.dstack([px[:, :, ::-1], np.full((h, w, 1), 255, np.uint8)])
    hdr = bytearray(encode_bmp(px)[:54])
    hdr[28:30] = (32).to_bytes(2, "little")
    payload32 = bytes(hdr) + bgra[::-1].tobytes()  # 32bpp rows need no pad
    assert np.array_equal(decode_bmp(payload32), px)

    pal = np.array([[0, 0, 0, 0], [255, 255, 255, 0]], dtype=np.uint8)[:, [2, 1, 0, 3]]
    idx = (px[:, :, 0] > 0).astype(np.uint8)
    stride8 = (w + 3) & ~3
    rows8 = np.zeros((h, stride8), dtype=np.uint8)
    rows8[:, :w] = idx[::-1]
    data_off = 14 + 40 + 8
    body = rows8.tobytes()
    hdr8 = (
        b"BM"
        + (data_off + len(body)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + data_off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (8).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(body).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2
        + (2).to_bytes(4, "little")  # n_colors
        + (0).to_bytes(4, "little")
    )
    assert np.array_equal(decode_bmp(hdr8 + pal.tobytes() + body), px)

    # corrupt / unsupported payloads fail loudly
    with pytest.raises(Exception, match="BMP"):
        decode_bmp(b"garbage not a bmp")
    rle = bytearray(encode_bmp(px))
    rle[30:34] = (1).to_bytes(4, "little")  # BI_RLE8
    with pytest.raises(Exception, match="BI_RGB"):
        decode_bmp(bytes(rle))


def test_click_cli_flag_surface(spark, tmp_path):
    """Reference CLI flag parity (cli/commands/*.py): ingest --dry-run /
    --incremental / --update-catalog, materialize --heuristic-beats,
    catalog --catalog-type/--output-format/--rankings/--statistics,
    validate exit code, quality --coverage-min recorded in the report,
    snapshot create+verify, vacuum --dry-run. CliRunner, in-process (the
    session fixture is reused via getOrCreate)."""
    import os

    from click.testing import CliRunner

    from transcription_lakehouse_spark.cli import cli as cli_group

    runner = CliRunner()
    data = tmp_path / "data"
    data.mkdir()
    _write_jsonl(data, "ep1.jsonl", n=40, episode="LOS - #1 - 2024-01-01 - A")
    lake = str(tmp_path / "lake")

    def run(*args):
        r = runner.invoke(cli_group, list(args), catch_exceptions=False)
        return r

    # dry-run writes nothing
    r = run("ingest", str(data), "--lakehouse-path", lake, "--dry-run")
    assert r.exit_code == 0, r.output
    assert '"dry_run": true' in r.output
    assert not os.path.isdir(os.path.join(lake, "normalized"))

    # real ingest + catalogs in one shot
    r = run("ingest", str(data), "--lakehouse-path", lake, "--update-catalog")
    assert r.exit_code == 0, r.output
    assert '"valid": 40' in r.output

    # incremental re-ingest of the same corpus adds zero rows
    _write_jsonl(data, "ep2.jsonl", n=10, episode="LOS - #2 - 2024-01-02 - B")
    r = run("ingest", str(data), "--lakehouse-path", lake, "--incremental")
    assert r.exit_code == 0, r.output
    assert '"valid": 10' in r.output  # only the new episode
    # and the previously ingested episode is PRESERVED (append, not
    # overwrite-with-delta): 40 + 10 rows, both episodes present
    from transcription_lakehouse_spark.ingestion import read_versioned as _rv

    norm = _rv(spark, lake, "normalized")
    assert norm.count() == 50
    assert norm.select("episode_id").distinct().count() == 2

    r = run("materialize", "--lakehouse-path", lake, "--heuristic-beats")
    assert r.exit_code == 0, r.output

    r = run(
        "catalog", "--lakehouse-path", lake, "--catalog-type", "speakers",
        "--output-format", "json", "--rankings", "--statistics",
    )
    assert r.exit_code == 0, r.output
    out = json.loads(r.output)
    assert out["speaker_stats"]["n_speakers"] == 2
    times = [s["total_speaking_time"] for s in out["speakers"]]
    assert times == sorted(times, reverse=True)  # --rankings ordering

    # --statistics reflects the UNFILTERED catalog even with a display
    # filter, and --detailed display collects are capped by --limit
    r = run(
        "catalog", "--lakehouse-path", lake, "--catalog-type", "episodes",
        "--output-format", "json", "--statistics", "--detailed", "--limit", "1",
        "--episode-id", "LOS - #1 - 2024-01-01 - A",
    )
    assert r.exit_code == 0, r.output
    out = json.loads(r.output)
    assert out["episode_stats"]["n_episodes"] == 2  # not 1 (filter is display-only)
    assert len(out["episodes"]) == 1  # the filtered row, under the cap
    r = run(
        "catalog", "--lakehouse-path", lake, "--catalog-type", "episodes",
        "--output-format", "json", "--detailed", "--limit", "1",
    )
    assert len(json.loads(r.output)["episodes"]) == 1  # cap applies
    r = run(
        "catalog", "--lakehouse-path", lake, "--catalog-type", "episodes",
        "--output-format", "json", "--detailed", "--limit", "1", "--all",
    )
    assert len(json.loads(r.output)["episodes"]) == 2  # --all lifts the cap

    # --save-catalog --statistics: the stats are the row counts observed on
    # the saves, so neither catalog pays a second count() pass over the
    # utterances (the job count drops below the save-then-count shape's)
    sc = spark.sparkContext
    group = f"catalog-save-{tmp_path.name}"
    sc.setJobGroup(group, "catalog --save-catalog --statistics")
    try:
        r = run(
            "catalog", "--lakehouse-path", lake, "--output-format", "json",
            "--save-catalog", "--statistics",
        )
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert r.exit_code == 0, r.output
    out = json.loads(r.output)
    assert out["episode_stats"]["n_episodes"] == _rv(
        spark, lake, "catalogs/episodes"
    ).count() == 2
    assert out["speaker_stats"]["n_speakers"] == _rv(
        spark, lake, "catalogs/speakers"
    ).count() == 2
    assert n_jobs < CATALOG_SAVE_STATS_JOBS_BEFORE, n_jobs

    r = run("validate", "--lakehouse-path", lake, "--output-format", "json")
    assert r.exit_code == 0, r.output

    r = run("quality", "--lakehouse-path", lake, "--coverage-min", "1.0")
    assert r.exit_code in (0, 1), r.output  # AMBER/GREEN exit 0; RED 1
    # the override must be recorded in the rendered report
    import glob as _glob

    g = sorted(_glob.glob(f"{lake}/quality_reports/*/metrics/global.json"))
    with open(g[-1]) as f:
        assert json.load(f)["thresholds_used"]["min_coverage_pct"] == 1.0

    r = run("snapshot", "create", "--lakehouse-path", lake,
            "--version", "v0.1.0")
    assert r.exit_code == 0, r.output
    snap_dir = os.path.join(lake, "snapshots", "v0.1.0")
    r = run("snapshot", "verify", snap_dir)
    assert r.exit_code == 0, r.output

    # vacuum: second normalized version, then dry-run + real reclaim
    from transcription_lakehouse_spark.ingestion import read_versioned, write_versioned

    write_versioned(
        read_versioned(spark, lake, "normalized"), lake, "normalized", "v2"
    )
    r = run("vacuum", "normalized", "--lakehouse-path", lake,
            "--keep-last", "1", "--dry-run")
    assert r.exit_code == 0 and '"v1"' in r.output, r.output
    assert os.path.isdir(os.path.join(lake, "normalized", "v1"))
    r = run("vacuum", "normalized", "--lakehouse-path", lake, "--keep-last", "1")
    assert r.exit_code == 0, r.output
    assert not os.path.isdir(os.path.join(lake, "normalized", "v1"))


def test_click_group_is_the_one_command_surface():
    """Every lake command lives on the click group, including `maintain`;
    `pipeline` is a library with no command-line entry of its own."""
    from transcription_lakehouse_spark.cli import cli as cli_group

    assert {"ingest", "materialize", "catalog", "validate", "quality",
            "snapshot", "maintain"} <= set(cli_group.commands)
    assert {"create", "verify"} <= set(cli_group.commands["snapshot"].commands)
    assert not hasattr(pipeline, "main")


def test_quality_reports_beats_on_dirs_and_txlog_lakes(spark, tmp_path):
    """`lakehouse quality` finds the beats table on either lake format:
    the same input gives the same `distribution.beat_compliance` on a
    dirs lake and on a txlog lake (whose beats live under `beats/_txlog`,
    not `beats/<version>`)."""
    from click.testing import CliRunner

    from transcription_lakehouse_spark.cli import cli as cli_group

    runner = CliRunner()
    data = tmp_path / "data"
    data.mkdir()
    _write_jsonl(data, "ep1.jsonl", n=40)

    def run(*args):
        r = runner.invoke(cli_group, list(args), catch_exceptions=False)
        assert r.exit_code in (0, 1), r.output  # quality exits 1 on RED
        return r

    compliance = {}
    for fmt in ("dirs", "txlog"):
        lake = str(tmp_path / f"lake_{fmt}")
        run("ingest", str(data), "--lakehouse-path", lake, "--fmt", fmt)
        run("materialize", "--lakehouse-path", lake, "--heuristic-beats")
        out = json.loads(run("quality", "--lakehouse-path", lake).output)
        with open(f"{out['report']}/metrics/global.json") as f:
            compliance[fmt] = json.load(f)["distribution"]["beat_compliance"]
    assert compliance["dirs"], compliance
    assert compliance["txlog"] == compliance["dirs"]


def test_read_state_treats_empty_dir_as_first_batch(spark, tmp_path):
    """Crash between mkdir and first commit leaves a state dir with only
    _temporary/ — that is genuinely first-batch (retry-on-raise could never
    recover); a dir WITH data files that fails schema inference still
    raises."""
    from transcription_lakehouse_spark.streaming.ingest import _read_state

    d = tmp_path / "state"
    (d / "_temporary").mkdir(parents=True)
    (d / "_SUCCESS").write_bytes(b"")
    assert _read_state(spark, str(d)) is None


def test_avi_decode_end_to_end(spark, tmp_path):
    """Real video decode path (no codec libs): generated uncompressed-AVI
    corpus → binary media table (parquet round-trip) → per-clip stats →
    frame sampling with REAL BMP frame payloads → image features reused per
    frame. Pins physics: a static clip has zero motion and zero cuts, a
    black/white blink clip has ~max motion and a cut at every transition, a
    drifting bar sits strictly between; encode→decode round-trips exactly;
    sampled frames are pixel-exact; compressed/truncated payloads refuse."""
    import numpy as np
    import pytest

    from transcription_lakehouse_spark.ingestion import write_versioned
    from transcription_lakehouse_spark.multimodal import (
        decode_avi,
        decode_bmp,
        encode_avi,
        media_table,
        sample_frames,
        video_frame_features,
        video_stats,
    )

    # width 15 exercises the 4-byte row padding path (15*3 = 45 → stride 48)
    def solid_clip(n, rgb, w=15, h=9):
        return np.full((n, h, w, 3), rgb, dtype=np.uint8)

    static = solid_clip(10, (0, 255, 0))
    blink = np.zeros((8, 9, 15, 3), dtype=np.uint8)
    blink[1::2] = 255
    drift = np.zeros((10, 9, 15, 3), dtype=np.uint8)
    for i in range(10):
        drift[i, :, i % 15] = 255  # one white column marching right
    clips = [("static", static, 5.0), ("blink", blink, 4.0), ("drift", drift, 2.0)]

    # exact encode→decode round-trip (frames AND fps), incl. padded width
    for _, fr, fps in clips:
        rfps, rfr = decode_avi(encode_avi(fr, fps))
        assert rfps == pytest.approx(fps)
        assert np.array_equal(rfr, fr)

    rows = [
        (mid, "video", encode_avi(fr, fps), fr.shape[2], fr.shape[1],
         fr.shape[0] / fps, "rawvideo")
        for mid, fr, fps in clips
    ]
    media = media_table(
        spark.createDataFrame(
            rows,
            "media_id string, media_type string, payload binary, "
            "width long, height long, duration_sec double, codec string",
        )
    )
    path = write_versioned(media, str(tmp_path), "media", "v1")
    media = spark.read.parquet(path)

    stats = {r["media_id"]: r for r in video_stats(media).collect()}
    assert stats["static"]["n_frames"] == 10
    assert stats["static"]["fps"] == pytest.approx(5.0)
    assert stats["static"]["duration_sec"] == pytest.approx(2.0)
    assert stats["static"]["width"] == 15 and stats["static"]["height"] == 9
    assert stats["static"]["motion"] == 0.0
    assert stats["static"]["n_scene_cuts"] == 0
    # every blink transition is a full-range luma flip => a cut per pair
    assert stats["blink"]["motion"] == pytest.approx(1.0)
    assert stats["blink"]["n_scene_cuts"] == 7
    # the drifting bar moves 2 of 15 columns' worth of luma per step
    assert 0.0 < stats["drift"]["motion"] < stats["blink"]["motion"]
    assert stats["drift"]["n_scene_cuts"] == 0

    # sampled frames carry REAL pixel-exact BMP payloads at floor(t*fps)
    sampled = sample_frames(media, every_sec=0.5, attach_frames=True)
    got = {
        (r["media_id"], r["frame_idx"]): r
        for r in sampled.collect()
    }
    # drift: 10 frames at 2 fps = 5 s → t = 0.0, 0.5, ..., 4.5 → idx 0..9
    drift_rows = [k for k in got if k[0] == "drift"]
    assert len(drift_rows) == 10
    for (_, idx), r in got.items():
        if r["media_id"] != "drift":
            continue
        assert np.array_equal(decode_bmp(bytes(r["frame_payload"])), drift[idx])
    # static at 5 fps for 2 s, every 0.5 s → idx = floor(k·0.5·5) = 0,2,5,7
    static_idx = sorted(idx for mid, idx in got if mid == "static")
    assert static_idx == [0, 2, 5, 7]

    # metadata-only plan (attach_frames=False) still needs no payload
    plan = sample_frames(media, every_sec=1.0)
    assert plan.filter(F.col("media_id") == "static").count() == 3  # t=0,1,2

    # image features compose over sampled video frames unchanged
    feats = {r["media_id"]: np.array(r["features"])
             for r in video_frame_features(media, every_sec=1.0, dim=16).collect()}
    f0 = feats["blink#0"]
    assert f0[0] == 15 and f0[1] == 9  # [w, h, ...] from the image extractor
    assert f0[3] == pytest.approx(0.0)  # black frame luma (even idx = black)
    assert feats["blink#4"][3] == pytest.approx(0.0)
    # drift frames: one white column of 15 → mean luma = 1/15
    assert feats["drift#2"][3] == pytest.approx(1.0 / 15.0)

    # honesty: compressed or truncated payloads refuse loudly
    good = encode_avi(static, 5.0)
    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        decode_avi(b"RIFF????MP4 ")
    with pytest.raises(ValueError, match="truncated"):
        decode_avi(good[: len(good) // 2])
    bad = bytearray(good)
    strf_at = good.find(b"strf")
    bad[strf_at + 8 + 16 : strf_at + 8 + 20] = (1).to_bytes(4, "little")  # BI_RLE8
    with pytest.raises(ValueError, match="only BI_RGB"):
        decode_avi(bytes(bad))


def test_streaming_quality_classifier_scores_microbatches(spark, tmp_path):
    """The committed quality model applies unchanged to a stream: the
    scoring path is a stateless scan->project (no windows, no state), so
    the same quality_classifier transform runs per micro-batch. Scores
    must match the batch run row-for-row — the batch/stream parity
    contract for the curation funnel's model stage."""
    import json as _json

    from transcription_lakehouse_spark._quality_model import BIAS, WEIGHTS
    from transcription_lakehouse_spark.operators.quality_model import (
        quality_classifier,
    )

    d = tmp_path / "qc_in"
    d.mkdir()
    rows = [
        {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog"},
        {"doc_id": 2, "text": "spam " * 30},
        {"doc_id": 3, "text": "a longer fluent paragraph with varied words and the usual stopword density of natural prose"},
    ]
    (d / "a.jsonl").write_text("\n".join(_json.dumps(r) for r in rows))
    stream = spark.readStream.schema("doc_id long, text string").json(str(d))
    q = (
        quality_classifier(stream, "doc_id", "text", WEIGHTS, BIAS)
        .writeStream.format("memory")
        .queryName("stream_qc")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming quality-classifier timed out"
    got = {
        r["doc_id"]: (r["quality_score"], r["quality_pass"])
        for r in spark.sql(
            "SELECT doc_id, quality_score, quality_pass FROM stream_qc"
        ).collect()
    }
    batch = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], "doc_id long, text string"
    )
    want = {
        r["doc_id"]: (r["quality_score"], r["quality_pass"])
        for r in quality_classifier(
            batch, "doc_id", "text", WEIGHTS, BIAS
        ).collect()
    }
    assert got == want


def test_cli_curate_writes_ordered_shards(spark, tmp_path):
    """`lakehouse curate`: quality gate -> mixture repeats -> deterministic
    placement -> ordered shard write, end-to-end through the CLI."""
    import json as _json

    from click.testing import CliRunner

    from transcription_lakehouse_spark.cli import cli

    good = [
        (i, "the quick brown fox jumps over the lazy dog number %d ok" % i,
         "src%d" % (i % 2))
        for i in range(40)
    ]
    junk = [
        (100 + i,
         ["#sale @now *deal ^top ~win |buy " * 6,
          ("click " * 50).strip(),
          " ".join(["cheap", "deal", "offer"][j % 3] for j in range(60)),
          ][i % 3],
         "spam")
        for i in range(20)
    ]
    docs = spark.createDataFrame(
        good + junk, "doc_id long, text string, source string"
    )
    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    out = str(tmp_path / "shards")
    r = CliRunner().invoke(cli, ["curate", src, out, "--shards", "4"])
    assert r.exit_code == 0, r.output
    payload = _json.loads(r.output)
    assert payload["n_kept"] > 0
    assert payload["n_placed"] >= payload["n_kept"]
    assert payload["n_shards"] == 4
    # the committed-model gate actually gates: every junk doc rejected,
    # every fluent doc kept (a non-trivial 1/3 of the corpus dropped)
    assert payload["n_documents"] == 60
    assert payload["n_kept"] == 40
    back = spark.read.parquet(out)
    assert {c for c in back.columns} >= {"doc_id", "source", "rep",
                                         "shard_pos", "shard"}
    assert {r["source"] for r in back.select("source").distinct()
            .collect()} == {"src0", "src1"}  # spam never reaches a shard
    # deterministic: a second run into a fresh dir places identically
    out2 = str(tmp_path / "shards2")
    r2 = CliRunner().invoke(cli, ["curate", src, out2, "--shards", "4"])
    assert r2.exit_code == 0, r2.output
    a = sorted(map(tuple, back.collect()))
    b = sorted(map(tuple, spark.read.parquet(out2).collect()))
    assert a == b


def test_cli_curate_append_incremental(spark, tmp_path):
    """`curate --append` (the reference's incremental anti-join + index
    append, recomposed): batch 2 places only NEW docs as NEW shard files,
    batch-1 files stay byte-identical, shard_pos continues each shard's
    order, and re-running on unchanged input is a no-op."""
    import glob
    import hashlib
    import json as _json
    import os

    from click.testing import CliRunner

    from transcription_lakehouse_spark.cli import cli

    def _mk(ids):
        return spark.createDataFrame(
            [(i, "the quick brown fox jumps over the lazy dog number %d ok"
              % i, "src%d" % (i % 2)) for i in ids],
            "doc_id long, text string, source string",
        )

    out = str(tmp_path / "shards")
    src1 = str(tmp_path / "b1.parquet")
    _mk(range(30)).write.parquet(src1)
    r1 = CliRunner().invoke(cli, ["curate", src1, out, "--shards", "4"])
    assert r1.exit_code == 0, r1.output

    def _file_hashes():
        return {
            p: hashlib.sha256(open(p, "rb").read()).hexdigest()
            for p in sorted(glob.glob(out + "/shard=*/*.parquet"))
        }

    h1 = _file_hashes()
    batch1 = spark.read.parquet(out).collect()
    max_pos = {}
    for r in batch1:
        max_pos[r["shard"]] = max(max_pos.get(r["shard"], 0), r["shard_pos"])

    # batch 2: 30 old docs + 20 new — only the new ones are placed
    src2 = str(tmp_path / "b2.parquet")
    _mk(range(50)).write.parquet(src2)
    r2 = CliRunner().invoke(
        cli, ["curate", src2, out, "--shards", "4", "--append",
              "--seed", "epoch1"],
    )
    assert r2.exit_code == 0, r2.output
    payload = _json.loads(r2.output)
    assert payload["append"] is True
    assert payload["n_documents"] == 20  # anti-joined batch
    assert payload["n_placed"] == len(batch1) + payload["n_placed_batch"]

    # batch-1 files byte-identical; batch 2 added new files only
    h2 = _file_hashes()
    assert all(h2[p] == h for p, h in h1.items()), "batch-1 files rewritten"
    assert len(h2) > len(h1)

    back = spark.read.parquet(out)
    rows = back.collect()
    new_rows = [r for r in rows if r["doc_id"] >= 30]
    assert {r["doc_id"] for r in new_rows} == set(range(30, 50))
    # shard_pos continues past each shard's previous max, no collisions
    seen = {}
    for r in rows:
        key = (r["shard"], r["shard_pos"])
        assert key not in seen, f"duplicate position {key}"
        seen[key] = r["doc_id"]
    for r in new_rows:
        assert r["shard_pos"] > max_pos.get(r["shard"], 0)

    # idempotence: re-running --append on the same input places nothing
    r3 = CliRunner().invoke(
        cli, ["curate", src2, out, "--shards", "4", "--append",
              "--seed", "epoch1"],
    )
    assert r3.exit_code == 0, r3.output
    p3 = _json.loads(r3.output)
    assert p3["n_placed_batch"] == 0
    assert _file_hashes() == h2


def test_stream_graph_update_matches_batch_rebuild(spark, tmp_path):
    """Streaming k-NN-graph maintenance: three micro-batches fold into the
    persisted edge list via the append_knn_graph semantics; the final
    streamed graph must equal a batch build over the accumulated corpus
    EXACTLY (the append==rebuild contract carried through foreachBatch),
    a micro-batch rewrites ONLY the edge buckets it touches (untouched
    bucket files stay byte-identical — the o(state)-writes-per-batch
    pin), and a crash-window replay (fresh checkpoint, same files)
    changes nothing on disk."""
    import glob
    import hashlib
    import json as _json
    import random

    from transcription_lakehouse_spark.operators.graph_ann import (
        build_knn_graph,
    )
    from transcription_lakehouse_spark.streaming.ingest import (
        read_graph_state,
        stream_graph_update,
    )

    # ORTHOGONAL clusters (disjoint active dims, cross-cluster cosine ~0)
    # — _clustered_vectors' hypercube corners share 14/16 coordinates
    # (cosine ~0.875), which makes LSH collide every src with every batch
    # and would leave nothing untouched to pin
    random.seed(23)
    rows = []
    for c in range(3):
        for i in range(8):
            v = [random.gauss(0, 0.05) for _ in range(15)]
            for d_ in range(5 * c, 5 * c + 5):
                v[d_] += 10.0
            rows.append((c * 8 + i, v))
    d = tmp_path / "graph_in"
    d.mkdir()
    st = str(tmp_path / "graph_state")

    def _edge_file_hashes():
        return {
            p: hashlib.sha256(open(p, "rb").read()).hexdigest()
            for p in glob.glob(st + "/edges/epoch=*/bucket=*/*.parquet")
        }

    # 8 planes/band -> selective buckets: cross-cluster collisions are
    # rare, so a batch from one cluster genuinely leaves other clusters'
    # srcs untouched (with the default 4, every pair collides in some
    # band and the partial-rewrite pin would be vacuous)
    def _run(in_dir, ck):
        q = stream_graph_update(
            spark, str(in_dir), st, str(tmp_path / ck), k_graph=4,
            planes_per_band=8, n_state_buckets=16,
        )
        q.awaitTermination(180)

    # batches 0+1 first, then batch 2 separately so we can hash the edge
    # store in between and pin the partial rewrite
    for b in range(2):
        (d / f"b{b}.jsonl").write_text(
            "\n".join(
                _json.dumps({"vec_id": vid, "embedding": emb})
                for vid, emb in rows[b * 8:(b + 1) * 8]
            )
        )
    _run(d, "ck1")
    h_before = _edge_file_hashes()
    (d / "b2.jsonl").write_text(
        "\n".join(
            _json.dumps({"vec_id": vid, "embedding": emb})
            for vid, emb in rows[16:24]
        )
    )
    _run(d, "ck1")  # same checkpoint: only the new file is a new batch
    h_after = _edge_file_hashes()

    # partial rewrite: batch 2 left at least one prior bucket untouched,
    # and every untouched bucket's files are byte-identical
    untouched = [p for p in h_before if p in h_after]
    assert untouched, "batch rewrote every bucket file"
    assert all(h_after[p] == h_before[p] for p in untouched)
    survived_buckets = {p.split("bucket=")[1].split("/")[0] for p in untouched}
    all_buckets = {
        p.split("bucket=")[1].split("/")[0] for p in h_before
    }
    assert survived_buckets, "no bucket dir survived the append"
    # o(state) writes: the rewrite covered a strict subset of buckets
    rewritten = all_buckets - survived_buckets
    assert len(rewritten) < len(all_buckets)

    nodes, edges = read_graph_state(spark, st)
    assert nodes.count() == 24
    full = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    want = sorted(
        map(tuple, build_knn_graph(
            full, "vec_id", "embedding", k_graph=4, planes_per_band=8,
        ).collect())
    )
    assert sorted(map(tuple, edges.collect())) == want

    # replay every file through a FRESH checkpoint: anti-join makes the
    # whole stream a no-op on existing state — bit-identical files, no
    # rewrites at all
    _run(d, "ck2")
    assert _edge_file_hashes() == h_after
    nodes2, edges2 = read_graph_state(spark, st)
    assert nodes2.count() == 24
    assert sorted(map(tuple, edges2.collect())) == want


def test_cli_curate_curriculum_order(spark, tmp_path):
    """`curate --order curriculum`: shard files serve clean-first — tier
    is non-decreasing in each shard's in-file order, junk is gated out
    before ordering, and the tier column lands in the shards as
    provenance."""
    import glob
    import json as _json

    from click.testing import CliRunner

    from transcription_lakehouse_spark.cli import cli

    good = [
        (i, "the quick brown fox jumps over the lazy dog number %d ok" % i,
         "src%d" % (i % 2))
        for i in range(40)
    ]
    docs = spark.createDataFrame(
        good, "doc_id long, text string, source string"
    )
    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    out = str(tmp_path / "shards")
    r = CliRunner().invoke(
        cli, ["curate", src, out, "--shards", "4", "--order", "curriculum"],
    )
    assert r.exit_code == 0, r.output
    payload = _json.loads(r.output)
    assert payload["n_kept"] == 40
    back = spark.read.parquet(out)
    assert {"tier", "quality_score"} <= set(back.columns)
    # in-file order is the serving order: tiers never decrease
    for d in sorted(glob.glob(out + "/shard=*")):
        tiers = [r["tier"] for r in spark.read.parquet(d).collect()]
        assert tiers == sorted(tiers), f"{d} serves out of tier"
    # appending with the other order is refused (manifest contract)
    r2 = CliRunner().invoke(
        cli, ["curate", src, out, "--shards", "4", "--append"],
    )
    assert r2.exit_code != 0
    assert "same --order" in r2.output


def test_cli_curate_append_manifest_guards_layout(spark, tmp_path):
    """The _curation_manifest.json contract: --append with a different
    --shards is refused (a new shard count would re-hash doc->shard mod
    the new count, breaking deterministic placement across epochs), and
    the manifest records one epoch entry per placing run."""
    import json as _json
    import os

    from click.testing import CliRunner

    from transcription_lakehouse_spark.cli import cli

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog %d" % i, "s")
         for i in range(20)],
        "doc_id long, text string, source string",
    )
    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    out = str(tmp_path / "shards")
    r1 = CliRunner().invoke(cli, ["curate", src, out, "--shards", "4"])
    assert r1.exit_code == 0, r1.output
    mpath = os.path.join(out, "_curation_manifest.json")
    with open(mpath) as fh:
        m = _json.load(fh)
    assert m["n_shards"] == 4 and m["order"] == "shuffled"
    assert len(m["epochs"]) == 1

    # mismatched shard count refused before any write
    r2 = CliRunner().invoke(
        cli, ["curate", src, out, "--shards", "8", "--append"],
    )
    assert r2.exit_code != 0
    assert "--shards 4" in r2.output

    # matching append adds an epoch entry only when rows were placed
    src2 = str(tmp_path / "docs2.parquet")
    spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog %d" % i, "s")
         for i in range(20, 30)],
        "doc_id long, text string, source string",
    ).write.parquet(src2)
    r3 = CliRunner().invoke(
        cli, ["curate", src2, out, "--shards", "4", "--append",
              "--seed", "epoch1"],
    )
    assert r3.exit_code == 0, r3.output
    with open(mpath) as fh:
        m2 = _json.load(fh)
    assert [e["seed"] for e in m2["epochs"]] == ["epoch0", "epoch1"]
    # a no-op re-run records no phantom epoch
    r4 = CliRunner().invoke(
        cli, ["curate", src2, out, "--shards", "4", "--append",
              "--seed", "epoch1"],
    )
    assert r4.exit_code == 0, r4.output
    with open(mpath) as fh:
        assert len(_json.load(fh)["epochs"]) == 2


def test_cli_curate_append_curriculum_epoch_blocks(spark, tmp_path):
    """`curate --append --order curriculum` contract (per-epoch tier
    blocks): each appended batch is one curriculum epoch — its slice of
    every shard is tier-nondecreasing and serves strictly AFTER all
    prior batches' rows. The global shard order is epoch-blocked by
    design (prior files are immutable), NOT globally tier-sorted."""
    import json as _json

    from click.testing import CliRunner

    from transcription_lakehouse_spark.cli import cli

    def _mk(ids):
        return spark.createDataFrame(
            [(i, "the quick brown fox jumps over the lazy dog %d ok" % i,
              "s") for i in ids],
            "doc_id long, text string, source string",
        )

    src1 = str(tmp_path / "b1.parquet")
    _mk(range(30)).write.parquet(src1)
    out = str(tmp_path / "shards")
    r1 = CliRunner().invoke(
        cli, ["curate", src1, out, "--shards", "4",
              "--order", "curriculum"],
    )
    assert r1.exit_code == 0, r1.output
    batch1 = spark.read.parquet(out).collect()
    max_pos = {}
    for r in batch1:
        max_pos[r["shard"]] = max(max_pos.get(r["shard"], 0), r["shard_pos"])

    src2 = str(tmp_path / "b2.parquet")
    _mk(range(50)).write.parquet(src2)
    r2 = CliRunner().invoke(
        cli, ["curate", src2, out, "--shards", "4", "--append",
              "--order", "curriculum", "--seed", "epoch1"],
    )
    assert r2.exit_code == 0, r2.output
    assert _json.loads(r2.output)["n_documents"] == 20

    rows = spark.read.parquet(out).collect()
    b1_ids = {r["doc_id"] for r in batch1}
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["shard_pos"])
        # epoch block boundary: every batch-2 row serves after batch 1
        for r in rs:
            if r["doc_id"] not in b1_ids:
                assert r["shard_pos"] > max_pos.get(shard, 0)
        # each epoch's slice is independently tier-nondecreasing
        t1 = [r["tier"] for r in rs if r["doc_id"] in b1_ids]
        t2 = [r["tier"] for r in rs if r["doc_id"] not in b1_ids]
        assert t1 == sorted(t1), f"shard {shard} epoch-1 out of tier"
        assert t2 == sorted(t2), f"shard {shard} epoch-2 out of tier"


def test_pipeline_on_txlog_lake(spark, tmp_path):
    """The whole batch chain on a transaction-log lake (r7 verdict 'next
    #4'): ingest → materialize → catalog → validate → quality run with
    every artifact as a LogTable; incremental ingest is an atomic APPEND
    commit with exact CDF; time travel and compaction apply to the main
    artifacts; snapshots copy the log-resolved live file set; the
    dirs-format vacuum refuses to touch a txlog lake."""
    import os

    from transcription_lakehouse_spark import maintenance
    from transcription_lakehouse_spark.ingestion import (
        incremental_filter,
        ingest as core_ingest,
        lake_format,
        read_as_of,
        read_versioned,
    )
    from transcription_lakehouse_spark.sources.transcripts import (
        read_jsonl,
        with_default_episode_id,
    )
    from transcription_lakehouse_spark.txlog import LogTable

    _write_jsonl(tmp_path, "ep1.jsonl")
    lake = str(tmp_path / "lake")
    stats = pipeline.ingest(
        spark, str(tmp_path / "*.jsonl"), lake, keep_raw=False, fmt="txlog"
    )
    assert stats["valid"] == 60 and stats["invalid"] == 0
    assert lake_format(lake) == "txlog"
    assert os.path.isdir(f"{lake}/normalized/_txlog")
    assert not os.path.isdir(f"{lake}/normalized/v1"), "wrote a version dir"

    counts = pipeline.materialize(spark, lake, use_embeddings=True)
    assert counts["spans"] > 0 and counts["beats"] > 0
    assert os.path.isdir(f"{lake}/spans/_txlog")
    assert os.path.isdir(f"{lake}/sections/_txlog")
    cat = pipeline.catalog(spark, lake)
    assert cat["episodes"] == 1 and cat["speakers"] == 2
    v = pipeline.validate(spark, lake)
    assert v["ok"], v
    q = pipeline.quality(spark, lake)
    assert q["status"] in ("GREEN", "AMBER", "RED")

    # incremental ingest: one atomic append commit, exact per-batch CDF
    (tmp_path / "inc").mkdir(exist_ok=True)
    _write_jsonl(tmp_path / "inc", "ep2.jsonl", n=10, episode="EP2")
    raw2 = with_default_episode_id(
        read_jsonl(spark, str(tmp_path / "inc" / "*.jsonl"))
    )
    existing = read_versioned(spark, lake, "normalized")
    core_ingest(spark, raw2, lake, existing=existing)
    t = LogTable(spark, f"{lake}/normalized")
    assert t.version() == 1
    assert t.read().count() == 70
    added = t.changes(0, 1)
    assert added.count() == 10
    assert {r["episode_id"] for r in added.collect()} == {"EP2"}
    # re-running the same incremental is a no-op delta (anti-join)
    assert incremental_filter(
        raw2, read_versioned(spark, lake, "normalized")
    ).count() == 0

    # time travel: the pre-append snapshot, via LogTable and via read_as_of
    assert t.read(version=0).count() == 60
    as_of_ts = t._commits()[0]["timestamp"]
    assert read_as_of(spark, lake, "normalized", as_of=as_of_ts).count() == 60

    # compaction applies to the main artifact; content is unchanged and
    # the catalogs/quality chain still reads through the label
    res = t.compact(target_files=1)
    assert res["files_after"] == 1
    assert read_versioned(spark, lake, "normalized", "v1").count() == 70
    assert pipeline.validate(spark, lake)["ok"]

    # snapshot copies the log-resolved live set and verifies
    snap = pipeline.snapshot(spark, lake, "v0.0.1")
    assert snap["verified"], snap
    assert spark.read.parquet(
        os.path.join(snap["snapshot"], "normalized")
    ).count() == 70

    # dirs-format vacuum refuses a txlog lake (it would rmtree the table)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="txlog"):
        maintenance.vacuum(lake, "normalized")
    # the log-driven vacuum is the supported path
    assert t.vacuum(retain_last=1)["deleted"] >= 1
    assert t.read().count() == 70
