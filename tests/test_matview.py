"""Incrementally-maintained aggregate views: every refresh must land the
view EXACTLY where a from-scratch recompute would, across appends,
deletes, merges, group birth/death, multi-column keys with NULLs, and
replayed refreshes (txn-watermark idempotence)."""

from __future__ import annotations

import random

import pyspark.sql.functions as F
import pytest

from transcription_lakehouse_spark.matview import IncrementalAggView
from transcription_lakehouse_spark.txlog import LogTable


def _mk(spark, rows):
    # val steps of 0.5 are dyadic — incremental double sums stay EXACT,
    # so the recompute comparison below can demand equality, not approx
    return spark.createDataFrame(
        [(i, g, i * 0.5) for i, g in rows], "id bigint, grp string, val double"
    )


def _recompute(source):
    return {
        (r["grp"],): (r["cnt"], r["sum_val"])
        for r in source.read()
        .groupBy("grp")
        .agg(F.count("*").alias("cnt"), F.sum("val").alias("sum_val"))
        .collect()
    }


def _materialized(view):
    return {
        (r["grp"],): (r["cnt"], r["sum_val"])
        for r in view.read().collect()
    }


def test_refresh_tracks_recompute_through_mutations(spark, tmp_path):
    src = LogTable(spark, str(tmp_path / "src"))
    mv = IncrementalAggView(
        spark, src, str(tmp_path / "mv"), group_by="grp", sum_cols=["val"]
    )
    src.append(_mk(spark, [(1, "a"), (2, "a"), (3, "b")]))
    r = mv.refresh()
    assert not r.get("skipped")
    assert _materialized(mv) == _recompute(src)

    # append births group c, grows a
    src.append(_mk(spark, [(4, "c"), (5, "a")]))
    mv.refresh()
    assert _materialized(mv) == _recompute(src)

    # delete kills group b entirely — the view row must disappear
    src.delete("grp = 'b'")
    mv.refresh()
    assert _materialized(mv) == _recompute(src)
    assert ("b",) not in _materialized(mv)

    # merge moves id 5 from a to c (update = delete+insert in the CDF)
    src.merge(_mk(spark, [(5, "c")]), key="id")
    mv.refresh()
    assert _materialized(mv) == _recompute(src)

    # several source commits folded by ONE refresh
    src.append(_mk(spark, [(6, "d")]))
    src.delete("id = 1")
    src.append(_mk(spark, [(7, "d"), (8, "a")]))
    mv.refresh()
    assert _materialized(mv) == _recompute(src)


def test_refresh_is_idempotent_and_exactly_once(spark, tmp_path):
    src = LogTable(spark, str(tmp_path / "src"))
    mv = IncrementalAggView(
        spark, src, str(tmp_path / "mv"), group_by="grp", sum_cols=["val"]
    )
    src.append(_mk(spark, [(1, "a"), (2, "b")]))
    mv.refresh()
    v = mv.view.version()
    # nothing changed at the source: a replayed refresh is a clean skip,
    # not a doubled count — and it commits NOTHING
    assert mv.refresh().get("skipped")
    assert mv.view.version() == v
    assert _materialized(mv) == _recompute(src)
    # a second view handle (fresh process) resumes from the log watermark
    mv2 = IncrementalAggView(
        spark, src, str(tmp_path / "mv"), group_by="grp", sum_cols=["val"]
    )
    assert mv2.refresh().get("skipped")


def test_multi_column_groups_distinguish_null_from_empty(spark, tmp_path):
    src = LogTable(spark, str(tmp_path / "src"))
    df = spark.createDataFrame(
        [(1, "x", None, 1.0), (2, "x", "", 2.0), (3, None, "", 4.0)],
        "id bigint, g1 string, g2 string, val double",
    )
    src.append(df)
    mv = IncrementalAggView(
        spark, src, str(tmp_path / "mv"),
        group_by=["g1", "g2"], sum_cols=["val"],
    )
    mv.refresh()
    got = {
        (r["g1"], r["g2"]): (r["cnt"], r["sum_val"], r["avg_val"])
        for r in mv.read().collect()
    }
    assert got == {
        ("x", None): (1, 1.0, 1.0),
        ("x", ""): (1, 2.0, 2.0),
        (None, ""): (1, 4.0, 4.0),
    }


def test_schema_evolution_additive_folds_nonadditive_refuses(spark, tmp_path):
    src = LogTable(spark, str(tmp_path / "src"))
    src.append(_mk(spark, [(1, "a")]))
    mv = IncrementalAggView(
        spark, src, str(tmp_path / "mv"), group_by="grp", sum_cols=["val"]
    )
    mv.refresh()
    # ADDITIVE evolution: the CDF reads both sides with the merged
    # schema, so the refresh folds straight through — no full recompute
    src.append(
        spark.createDataFrame(
            [(2, "a", 1.0, "extra")],
            "id bigint, grp string, val double, note string",
        ),
        merge_schema=True,
    )
    r = mv.refresh()
    assert not r.get("skipped")
    assert _materialized(mv) == _recompute(src)
    # NON-additive change (val retyped away): refresh refuses loudly,
    # full_refresh is the escape hatch
    src.overwrite(
        spark.createDataFrame(
            [(1, "a", 2.0), (3, "b", 4.0)],
            "id bigint, grp string, val double",
        )
    )
    with pytest.raises(ValueError, match="non-additive"):
        mv.refresh()
    mv.full_refresh()
    assert _materialized(mv) == _recompute(src)
    assert mv.refresh().get("skipped")
    src.append(_mk(spark, [(5, "b")]))
    mv.refresh()
    assert _materialized(mv) == _recompute(src)


def test_null_sum_column_contributes_zero_not_poison(spark, tmp_path):
    src = LogTable(spark, str(tmp_path / "src"))
    src.append(spark.createDataFrame(
        [(1, "a", 1.0)], "id bigint, grp string, val double"))
    mv = IncrementalAggView(
        spark, src, str(tmp_path / "mv"), group_by="grp", sum_cols=["val"]
    )
    mv.refresh()
    src.append(spark.createDataFrame(
        [(2, "a", None)], "id bigint, grp string, val double"))
    mv.refresh()
    got = _materialized(mv)
    assert got[("a",)] == (2, 1.0)  # not (2, None)


def test_random_op_walk_matches_recompute(spark, tmp_path):
    rng = random.Random(42)
    src = LogTable(spark, str(tmp_path / "src"))
    mv = IncrementalAggView(
        spark, src, str(tmp_path / "mv"), group_by="grp", sum_cols=["val"]
    )
    next_id = 0
    live: dict[int, str] = {}
    groups = ["a", "b", "c", "d"]
    for step in range(8):
        op = rng.choice(["append", "delete", "merge", "append", "compact"])
        if op == "compact":
            src.compact(target_files=2)
        elif op == "append" or not live:
            rows = [(next_id + j, rng.choice(groups)) for j in range(5)]
            next_id += 5
            src.append(_mk(spark, rows))
            live.update({i: g for i, g in rows})
        elif op == "delete":
            g = rng.choice(groups)
            src.delete(f"grp = '{g}'")
            live = {i: gg for i, gg in live.items() if gg != g}
        else:
            i = rng.choice(sorted(live))
            g = rng.choice(groups)
            src.merge(_mk(spark, [(i, g)]), key="id")
            live[i] = g
        if step % 2 == 1:  # refreshes fold multiple commits
            mv.refresh()
            assert _materialized(mv) == _recompute(src), f"step {step}"
    mv.refresh()
    assert _materialized(mv) == _recompute(src)


def test_refresh_across_source_compact_is_content_neutral(spark, tmp_path):
    """A compact rewrites files with IDENTICAL rows: the CDF window's
    exceptAll cancels them, so the refresh advances the watermark
    without changing a single group value."""
    src = LogTable(spark, str(tmp_path / "src"))
    mv = IncrementalAggView(
        spark, src, str(tmp_path / "mv"), group_by="grp", sum_cols=["val"]
    )
    src.append(_mk(spark, [(1, "a"), (2, "b")]))
    src.append(_mk(spark, [(3, "a")]))
    mv.refresh()
    before = _materialized(mv)
    src.compact(target_files=1)
    r = mv.refresh()
    assert not r.get("skipped")  # the compact commit moves the version
    assert _materialized(mv) == before == _recompute(src)
    # and the watermark is caught up: nothing left to fold
    assert mv.refresh().get("skipped")
    # a real change AFTER the compact still folds incrementally
    src.delete("grp = 'a'")
    mv.refresh()
    assert _materialized(mv) == _recompute(src)


def test_cli_table_matview_refresh(spark, tmp_path):
    """`lakehouse table matview` bootstraps and refreshes a view; a
    replayed invocation (same source version — a double-fired cron) is
    a no-op skip."""
    import json as _json

    from click.testing import CliRunner

    from transcription_lakehouse_spark.cli import cli

    src = LogTable(spark, str(tmp_path / "src"))
    src.append(_mk(spark, [(1, "a"), (2, "a"), (3, "b")]))
    runner = CliRunner()
    args = ["table", "matview", str(tmp_path / "src"),
            str(tmp_path / "mv"), "--group-by", "grp", "--sum", "val"]
    r = runner.invoke(cli, args, catch_exceptions=False)
    assert r.exit_code == 0, r.output
    mv = IncrementalAggView(
        spark, src, str(tmp_path / "mv"), group_by="grp", sum_cols=["val"]
    )
    assert _materialized(mv) == _recompute(src)
    r2 = runner.invoke(cli, args, catch_exceptions=False)
    assert r2.exit_code == 0
    assert _json.loads(r2.output).get("skipped")
    src.delete("grp = 'a'")
    r3 = runner.invoke(cli, args, catch_exceptions=False)
    assert r3.exit_code == 0
    assert _materialized(mv) == _recompute(src)


def test_reserved_group_column_names_refused(spark, tmp_path):
    src = LogTable(spark, str(tmp_path / "src"))
    with pytest.raises(ValueError, match="collide"):
        IncrementalAggView(
            spark, src, str(tmp_path / "mv"),
            group_by=["cnt"], sum_cols=["val"],
        )
    with pytest.raises(ValueError, match="collide"):
        IncrementalAggView(
            spark, src, str(tmp_path / "mv"),
            group_by=["sum_val", "grp"], sum_cols=["val"],
        )


def test_var_cols_track_population_variance(spark, tmp_path):
    """Σx/Σx² are both retraction-safe: var/std derived from the view
    match a full var_pop recompute through appends AND deletes."""
    src = LogTable(spark, str(tmp_path / "src"))
    mv = IncrementalAggView(
        spark, src, str(tmp_path / "mv"), group_by="grp", var_cols=["val"]
    )
    src.append(_mk(spark, [(2, "a"), (4, "a"), (6, "a"), (3, "b")]))
    mv.refresh()

    def _expect():
        return {
            r["grp"]: (r["v"], r["s"])
            for r in src.read().groupBy("grp").agg(
                F.var_pop("val").alias("v"), F.stddev_pop("val").alias("s")
            ).collect()
        }

    def _got():
        return {r["grp"]: (r["var_val"], r["std_val"])
                for r in mv.read().collect()}

    for g, (v, s) in _expect().items():
        gv, gs = _got()[g]
        assert abs(gv - v) < 1e-9 and abs(gs - (s or 0.0)) < 1e-9
    # a delete RETRACTS from the second moment too
    src.delete("id = 6")
    mv.refresh()
    for g, (v, s) in _expect().items():
        gv, gs = _got()[g]
        assert abs(gv - v) < 1e-9 and abs(gs - (s or 0.0)) < 1e-9
    # single-row group: variance exactly 0, no negative-sqrt NaN
    assert _got()["b"] == (0.0, 0.0)


def test_concurrent_refreshes_apply_exactly_once(spark, tmp_path):
    """Two processes refreshing the SAME view race: the commit loser's
    retry sees the winner's (app, source_version) watermark and skips —
    one application, never a doubled delta."""
    from concurrent.futures import ThreadPoolExecutor

    src = LogTable(spark, str(tmp_path / "src"))
    src.append(_mk(spark, [(1, "a"), (2, "b")]))

    def _refresh(_):
        mv = IncrementalAggView(
            spark, src, str(tmp_path / "mv"),
            group_by="grp", sum_cols=["val"],
        )
        return mv.refresh()

    with ThreadPoolExecutor(max_workers=2) as pool:
        results = list(pool.map(_refresh, range(2)))
    mv = IncrementalAggView(
        spark, src, str(tmp_path / "mv"), group_by="grp", sum_cols=["val"]
    )
    assert _materialized(mv) == _recompute(src)
    applied = [r for r in results
               if not r.get("skipped") and not r.get("skipped_as_applied")]
    assert len(applied) <= 2  # both may apply only if strictly serialized
    # the view log holds ONE commit per source version fold
    assert mv.view.last_txn_version(mv.app_id) == src.version()
    assert mv.refresh().get("skipped")


def test_interleaved_refresh_different_source_versions_no_double_apply(
    spark, tmp_path
):
    """The r8 ADVICE #2 race, deterministically interleaved: refresh B
    captures watermark L, a concurrent refresh A lands source version
    v_a (L < v_a < v_b), and B's old-value read would then already
    include A's fold while B folds the window (L, v_b] — naively
    double-applying (L, v_a]. The CAS commit must refuse B's first
    attempt and B must re-plan from the new watermark."""
    src = LogTable(spark, str(tmp_path / "src"))
    src.append(_mk(spark, [(1, "a"), (2, "b")]))          # source v0
    mv_b = IncrementalAggView(
        spark, src, str(tmp_path / "mv"), group_by="grp", sum_cols=["val"]
    )
    mv_b.refresh()                                        # watermark = 0
    src.append(_mk(spark, [(3, "a")]))                    # source v1
    v_a = src.version()
    src.append(_mk(spark, [(4, "b")]))                    # source v2
    v_b = src.version()
    assert v_a < v_b

    real_merge = mv_b.view.merge_cdc
    fired = {"n": 0}

    def _racing_merge(*args, **kw):
        # before B's FIRST commit lands, a concurrent refresher A — one
        # that captured the source tip when it was still v_a — folds
        # (0, v_a] into the same view from a fresh handle (exactly
        # another process whose source read predates v_b's commit)
        if fired["n"] == 0:
            fired["n"] = 1
            mv_a = IncrementalAggView(
                spark, src, str(tmp_path / "mv"),
                group_by="grp", sum_cols=["val"],
            )
            a_res = mv_a._refresh_once(v_a)
            assert a_res.get("source_version") == v_a
        return real_merge(*args, **kw)

    mv_b.view.merge_cdc = _racing_merge
    try:
        res = mv_b.refresh()                              # targets v_b
    finally:
        mv_b.view.merge_cdc = real_merge
    # B's first commit was CAS-refused (its old values now contained
    # A's fold) and B re-planned from watermark v_a — before the fix
    # this double-counted A's (0, v_a] window
    assert res.get("source_version") == v_b
    assert res.get("refreshed_from") == v_a
    assert _materialized(mv_b) == _recompute(src)
    assert mv_b.refresh().get("skipped")


def test_minmax_hybrid_exact_through_extremum_deletes(spark, tmp_path):
    """min/max via the hybrid rule: insert-only refreshes and deletes
    that miss the extremum stay delta-only (the exact-recompute helper
    is NEVER invoked); a delete touching a group's recorded extremum
    recomputes ONLY that group — and the view equals a from-scratch
    recompute after every step, including group death."""
    src = LogTable(spark, str(tmp_path / "src"))
    mv = IncrementalAggView(
        spark, src, str(tmp_path / "mv"), group_by="grp",
        sum_cols=["val"], min_cols=["val"], max_cols=["val"],
    )
    calls = {"n": 0}
    real = mv._exact_minmax

    def _spy(rec_keys, src_v):
        calls["n"] += 1
        return real(rec_keys, src_v)

    mv._exact_minmax = _spy

    def _mm_recompute():
        return {
            r["grp"]: (r["cnt"], r["mn"], r["mx"])
            for r in src.read().groupBy("grp").agg(
                F.count("*").alias("cnt"),
                F.min(F.col("val").cast("double")).alias("mn"),
                F.max(F.col("val").cast("double")).alias("mx"),
            ).collect()
        }

    def _mm_view():
        return {
            r["grp"]: (r["cnt"], r["min_val"], r["max_val"])
            for r in mv.read().collect()
        }

    src.append(_mk(spark, [(2, "a"), (8, "a"), (5, "b"), (9, "b")]))
    mv.refresh()  # bootstrap: full read, all inserts
    assert _mm_view() == _mm_recompute()
    base_calls = calls["n"]

    # insert-only refresh: extends one extremum, no recompute
    src.append(_mk(spark, [(1, "a"), (20, "b")]))
    mv.refresh()
    assert _mm_view() == _mm_recompute()
    assert calls["n"] == base_calls

    # delete a NON-extremum row: still delta-only
    # group a vals are {0.5 (id 1), 1.0 (id 2), 4.0 (id 8)} — id 2 is
    # strictly interior
    src.delete("id = 2")
    mv.refresh()
    assert _mm_view() == _mm_recompute()
    assert calls["n"] == base_calls

    # delete the MIN of group a (id=1 -> val 0.5): targeted recompute
    src.delete("id = 1")
    mv.refresh()
    assert _mm_view() == _mm_recompute()
    assert calls["n"] == base_calls + 1

    # delete the MAX of group b, insert a new b row in the same window
    src.delete("id = 20")
    src.append(_mk(spark, [(7, "b")]))
    mv.refresh()
    assert _mm_view() == _mm_recompute()
    assert calls["n"] == base_calls + 2

    # kill group a entirely: D op, no recompute needed for a dead group
    src.delete("grp = 'a'")
    mv.refresh()
    assert _mm_view() == _mm_recompute()
    assert sorted(_mm_view()) == ["b"]

    # full_refresh lands the identical state (column order + values)
    mv2 = IncrementalAggView(
        spark, src, str(tmp_path / "mv2"), group_by="grp",
        sum_cols=["val"], min_cols=["val"], max_cols=["val"],
    )
    mv2.full_refresh()
    assert {
        r["grp"]: (r["cnt"], r["min_val"], r["max_val"])
        for r in mv2.read().collect()
    } == _mm_recompute()
    # and an incremental refresh on top of a full one stays consistent
    src.append(_mk(spark, [(3, "c")]))
    mv2.refresh()
    mv.refresh()
    assert _mm_view() == _mm_recompute()


def test_refresh_over_deletion_vector_source(spark, tmp_path):
    """A matview whose SOURCE uses merge-on-read: the CDF's file identity
    includes the DV state, so DV-only commits surface exactly the newly
    deleted rows and every refresh lands on the recompute."""
    src = LogTable(spark, str(tmp_path / "src"), deletion_vectors=True)
    mv = IncrementalAggView(
        spark, src, str(tmp_path / "mv"), group_by="grp", sum_cols=["val"]
    )
    src.append(_mk(spark, [(1, "a"), (2, "a"), (3, "b"), (4, "b")]))
    mv.refresh()
    assert _materialized(mv) == _recompute(src)
    out = src.delete("id = 2")          # DV commit, no rewrite
    assert out["rewritten_files"] == 0
    mv.refresh()
    assert _materialized(mv) == _recompute(src)
    src.merge_cdc(                      # DV upsert + delete
        spark.createDataFrame(
            [(3, "c", 1.5, "U"), (4, None, None, "D")],
            "id bigint, grp string, val double, _op string",
        ), key="id",
    )
    src.append(_mk(spark, [(9, "a")]))
    mv.refresh()                        # folds both commits at once
    assert _materialized(mv) == _recompute(src)
    src.optimize(min_dead_ratio=0.0)   # content-neutral materialization
    mv.refresh()
    assert _materialized(mv) == _recompute(src)


def test_broad_extremum_delete_respects_in_list_cap(
    spark, tmp_path, monkeypatch
):
    """A delete touching MANY groups' extrema must not funnel an
    unbounded key set through the driver IN-list fast path: past
    ``_MINMAX_IN_CAP`` the recompute falls through to the broadcast
    semi-join snapshot read (``scan`` never called) and the view still
    lands exactly on the from-scratch recompute."""
    from transcription_lakehouse_spark import matview as mv_mod

    monkeypatch.setattr(mv_mod, "_MINMAX_IN_CAP", 3)
    src = LogTable(spark, str(tmp_path / "src"))
    mv = IncrementalAggView(
        spark, src, str(tmp_path / "mv"), group_by="grp",
        min_cols=["val"], max_cols=["val"],
    )
    # 10 groups, 3 rows each; the group minimum is always id%3==0
    rows = [(g * 3 + j, f"g{g}") for g in range(10) for j in range(3)]
    src.append(_mk(spark, rows))
    mv.refresh()
    scans = {"n": 0}
    real_scan = src.scan

    def _spy(*a, **k):
        scans["n"] += 1
        return real_scan(*a, **k)

    monkeypatch.setattr(src, "scan", _spy)
    # global-threshold delete: removes every group's current minimum
    # (10 touched groups > cap 3) -> semi-join path, zero scan() calls
    src.delete("id % 3 = 0")
    mv.refresh()
    assert scans["n"] == 0
    got = {r["grp"]: (r["min_val"], r["max_val"])
           for r in mv.read().collect()}
    want = {r["grp"]: (r["mn"], r["mx"])
            for r in src.read().groupBy("grp").agg(
                F.min(F.col("val").cast("double")).alias("mn"),
                F.max(F.col("val").cast("double")).alias("mx"),
            ).collect()}
    assert got == want
    # a TARGETED extremum delete (1 group <= cap) still takes the
    # file-pruned scan('in') fast path: g0 holds ids {1, 2} now, so
    # deleting id=2 removes its max while the group survives
    src.delete("id = 2")
    mv.refresh()
    assert scans["n"] == 1
    got = {r["grp"]: (r["min_val"], r["max_val"])
           for r in mv.read().collect()}
    want = {r["grp"]: (r["mn"], r["mx"])
            for r in src.read().groupBy("grp").agg(
                F.min(F.col("val").cast("double")).alias("mn"),
                F.max(F.col("val").cast("double")).alias("mx"),
            ).collect()}
    assert got == want
