"""Cap logic for the explicit kernel-pin repartitions (r12, verdict #7):
the pin width must never exceed the key-group count on big clusters, and
must stay exactly defaultParallelism at local core counts (no probe job)."""

from __future__ import annotations

from transcription_lakehouse_spark.workload.transcript import (
    _PIN_PROBE_MIN_PAR,
    _pin_width,
)


def test_pin_width_local_par_is_passthrough(spark):
    df = spark.createDataFrame(
        [(str(i % 3), i) for i in range(30)], "episode_id string, x long"
    )
    # at local core counts the probe is skipped entirely: width == par
    # even though the df has only 3 groups
    assert _pin_width(df, "episode_id", 4) == 4
    assert _pin_width(df, "episode_id", _PIN_PROBE_MIN_PAR) == _PIN_PROBE_MIN_PAR


def test_pin_width_cluster_par_caps_at_group_count(spark):
    df = spark.createDataFrame(
        [(str(i % 7), i) for i in range(70)], "episode_id string, x long"
    )
    w = _pin_width(df, "episode_id", 2000)
    # approx_count_distinct is exact at these cardinalities
    assert w == 7


def test_pin_width_cluster_par_keeps_par_when_groups_exceed_it(spark):
    df = spark.createDataFrame(
        [(str(i), i) for i in range(500)], "episode_id string, x long"
    )
    assert _pin_width(df, "episode_id", 100) == 100


def test_section_catalog_probes_utterances_not_beats(spark, monkeypatch):
    """`trn_section_catalog` sizes its beats pin by probing the upstream
    utterances (same episode groups), so the probe never re-runs the
    beats kernel: no probed relation carries a FlatMapGroupsInPandas."""
    from transcription_lakehouse_spark.workload import transcript

    events = spark.createDataFrame(
        [(i % 3, i, "AB"[i % 2], 1_000_000 * i, float(i)) for i in range(30)],
        "user_id long, event_id long, event_type string, ts_us long, "
        "value double",
    )
    monkeypatch.setattr(transcript, "load_table", lambda *a, **k: events)
    probed = []
    real = transcript._pin_width

    def spy(df, key, par):
        probed.append(df)
        return real(df, key, par)

    monkeypatch.setattr(transcript, "_pin_width", spy)
    transcript.trn_section_catalog(spark, "unused")
    assert probed
    for df in probed:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" not in plan
