"""The transaction log's single commit path: every mutating operation
keeps its concurrency contract when a racer steals its version, delete
and merge share one matched-rows step (NULL-condition rows survive in
both write modes), and every clustered rewrite goes through
``maintenance.layout``."""

from __future__ import annotations

import datetime as dt
import inspect
import pathlib

import pytest

from transcription_lakehouse_spark import maintenance, txlog
from transcription_lakehouse_spark.txlog import (
    ConstraintViolationError,
    LogTable,
)


def _mk(spark, ids, tag="a"):
    return spark.createDataFrame(
        [(i, f"{tag}{i}") for i in ids], "id bigint, val string"
    )


def _rows(df):
    return sorted((r["id"], r["val"]) for r in df.collect())


def _race(monkeypatch, op, steal):
    """Patch ``LogTable._commit`` so the first commit of ``op`` is
    preceded by ``steal()`` — a second writer landing the version the
    operation planned against."""
    orig = LogTable._commit
    fired = {"done": False}

    def patched(self, record):
        if record["operation"] == op and not fired["done"]:
            fired["done"] = True
            steal()
        return orig(self, record)

    monkeypatch.setattr(LogTable, "_commit", patched)
    return fired


# ---- race pins: one per operation ------------------------------------------


def test_overwrite_racing_append_rebases_and_replaces_it(
    spark, tmp_path, monkeypatch
):
    """overwrite replaces WHATEVER is current: on a lost race it reuses
    its written files and removes the racer's files too."""
    root = str(tmp_path / "t")
    t = LogTable(spark, root)
    t.append(_mk(spark, range(10)))
    racer = LogTable(spark, root)
    fired = _race(monkeypatch, "overwrite",
                  lambda: racer.append(_mk(spark, range(100, 105))))
    v = t.overwrite(_mk(spark, range(50, 53), tag="o"))
    assert fired["done"] and v == 2
    assert _rows(t.read()) == _rows(_mk(spark, range(50, 53), tag="o"))
    assert [h["operation"] for h in t.history()] == [
        "append", "append", "overwrite"]


@pytest.mark.parametrize("dv", [False, True])
def test_merge_racing_append_replans_and_matches_new_rows(
    spark, tmp_path, monkeypatch, dv
):
    """merge re-plans from the new tip in both write modes: a key the
    racer appended is replaced, not duplicated."""
    root = str(tmp_path / "t")
    t = LogTable(spark, root, deletion_vectors=dv)
    t.append(_mk(spark, range(10)))
    racer = LogTable(spark, root)
    fired = _race(monkeypatch, "merge",
                  lambda: racer.append(_mk(spark, range(20, 25), tag="late")))
    out = t.merge(_mk(spark, [3, 22], tag="u"), key="id")
    assert fired["done"] and out["version"] == 2
    want = {i: f"a{i}" for i in range(10)}
    want.update({i: f"late{i}" for i in range(20, 25)})
    want.update({3: "u3", 22: "u22"})
    assert _rows(t.read()) == sorted(want.items())
    assert [h["operation"] for h in t.history()] == [
        "append", "append", "merge"]


def test_merge_cdc_txn_racing_its_own_replay_applies_once(
    spark, tmp_path, monkeypatch
):
    """merge_cdc with ``txn=``: when the racer IS the same (app, version)
    landing first, the retry sees the watermark and skips — the batch
    is applied exactly once."""
    root = str(tmp_path / "t")
    t = LogTable(spark, root)
    t.append(_mk(spark, range(5)))
    changes = spark.createDataFrame(
        [(1, "u1", "U"), (2, None, "D"), (7, "n7", "I")],
        "id bigint, val string, _op string",
    )
    racer = LogTable(spark, root)
    fired = _race(
        monkeypatch, "merge_cdc",
        lambda: racer.merge_cdc(changes, key="id", txn=("app", 1)),
    )
    out = t.merge_cdc(changes, key="id", txn=("app", 1))
    assert fired["done"]
    assert out["version"] is None and out["skipped_as_applied"]
    assert _rows(t.read()) == [(0, "a0"), (1, "u1"), (3, "a3"), (4, "a4"),
                               (7, "n7")]
    assert t.last_txn_version("app") == 1
    assert [h["operation"] for h in t.history()] == ["append", "merge_cdc"]


def test_dv_delete_racing_append_replans_and_sees_new_rows(
    spark, tmp_path, monkeypatch
):
    """Deletion-vector delete re-plans like copy-on-write: matching rows
    the racer appended are deleted too."""
    root = str(tmp_path / "t")
    t = LogTable(spark, root, deletion_vectors=True)
    t.append(_mk(spark, range(10)))
    racer = LogTable(spark, root)
    fired = _race(monkeypatch, "delete",
                  lambda: racer.append(_mk(spark, range(5, 8), tag="late")))
    out = t.delete("id >= 5")
    assert fired["done"] and out["version"] == 2
    assert out["rewritten_files"] == 0
    assert _rows(t.read()) == _rows(_mk(spark, range(5)))


def test_add_constraint_racing_violating_append_refuses(
    spark, tmp_path, monkeypatch
):
    """add_constraint re-validates against the new tip: a racing append
    of a violating row makes it refuse instead of landing a constraint
    the table does not satisfy."""
    root = str(tmp_path / "t")
    t = LogTable(spark, root)
    t.append(spark.createDataFrame([(1, 5.0)], "id bigint, v double"))
    racer = LogTable(spark, root)
    fired = _race(
        monkeypatch, "set_constraint",
        lambda: racer.append(
            spark.createDataFrame([(2, -1.0)], "id bigint, v double")),
    )
    with pytest.raises(ConstraintViolationError, match="v_pos"):
        t.add_constraint("v_pos", "v > 0")
    assert fired["done"]
    assert t.constraints() == {}
    assert t.read().count() == 2


def test_drop_constraint_racing_add_constraint_keeps_the_other(
    spark, tmp_path, monkeypatch
):
    """drop_constraint re-plans: the racer's new constraint survives and
    the named one is dropped at the next version."""
    root = str(tmp_path / "t")
    t = LogTable(spark, root)
    t.append(spark.createDataFrame([(1, 5.0)], "id bigint, v double"))
    t.add_constraint("v_pos", "v > 0")
    racer = LogTable(spark, root)
    fired = {"done": False}
    orig = LogTable._commit

    def patched(self, record):
        if (record["params"].get("drop") and not fired["done"]):
            fired["done"] = True
            racer.add_constraint("id_pos", "id > 0")
        return orig(self, record)

    monkeypatch.setattr(LogTable, "_commit", patched)
    out = t.drop_constraint("v_pos")
    assert fired["done"]
    assert out == {"version": 3, "dropped": True}
    assert t.constraints() == {"id_pos": "id > 0"}


def test_restore_racing_append_replans(spark, tmp_path, monkeypatch):
    """restore re-plans from the new tip on a lost race: the live set
    becomes exactly the target version's, so the racer's files are
    removed too."""
    root = str(tmp_path / "t")
    t = LogTable(spark, root)
    t.append(_mk(spark, range(5)))
    t.append(_mk(spark, range(5, 10)))
    racer = LogTable(spark, root)
    fired = _race(monkeypatch, "restore",
                  lambda: racer.append(_mk(spark, range(100, 103))))
    out = t.restore(0)
    assert fired["done"]
    assert out["version"] == 3 and out["files_removed"] >= 2
    assert _rows(t.read()) == _rows(_mk(spark, range(5)))
    assert [h["operation"] for h in t.history()] == [
        "append", "append", "append", "restore"]


# ---- matched-rows step ------------------------------------------------------


@pytest.mark.parametrize("dv", [False, True])
def test_delete_keeps_null_condition_rows_in_both_modes(spark, tmp_path, dv):
    """SQL DELETE semantics: a row whose condition is NULL does not match
    and stays, in copy-on-write and deletion-vector mode alike; a file
    holding only a NULL-condition row is not touched at all."""
    t = LogTable(spark, str(tmp_path / "t"), deletion_vectors=dv)
    t.append(spark.createDataFrame(
        [(1, 1.0), (2, 10.0), (3, None), (4, 20.0)], "id bigint, v double"
    ).coalesce(1))
    t.append(spark.createDataFrame(
        [(5, None)], "id bigint, v double").coalesce(1))
    null_only = next(a for a in txlog._live_adds(t._load_for_read(None))
                     if "c00000001-" in a["path"])
    t.delete("v > 5")
    assert sorted(r["id"] for r in t.read().collect()) == [1, 3, 5]
    live = txlog._live_adds(t._load_for_read(None))
    assert null_only in live


# ---- one layout -------------------------------------------------------------


def _ts_rows(spark, n):
    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(i, base + dt.timedelta(minutes=7 * i)) for i in range(n)],
        "id bigint, ts timestamp",
    )


def test_zorder_on_timestamp_column(spark, tmp_path):
    """compact and optimize z-order a timestamp column (its bounds are
    cast to double, like the dirs-lake compaction) and keep contents."""
    t = LogTable(spark, str(tmp_path / "t"), deletion_vectors=True)
    t.append(_ts_rows(spark, 100).coalesce(1))
    t.delete("id < 30")
    out = t.optimize(min_dead_ratio=0.2, zorder_by=["ts", "id"])
    assert out["purged_files"] == 1
    want = sorted(tuple(r) for r in _ts_rows(spark, 100).collect())[30:]
    assert sorted(tuple(r) for r in t.read().collect()) == want
    out = t.compact(target_files=2, zorder_by=["ts", "id"])
    assert out["files_after"] >= 1
    assert sorted(tuple(r) for r in t.read().collect()) == want


def test_zorder_compact_of_empty_table_commits_like_plain(spark, tmp_path):
    """A table with no live rows z-order compacts exactly as a plain
    compact does — no NULL-bounds error."""
    outs = []
    for name, kw in (("plain", {}), ("z", {"zorder_by": ["id", "v"]})):
        t = LogTable(spark, str(tmp_path / name))
        t.append(spark.createDataFrame([(1, 2.0)], "id bigint, v double"))
        t.delete("id >= 0")
        out = t.compact(**kw)
        assert t.read().count() == 0
        assert t.history()[-1]["operation"] == "compact"
        outs.append({k: out[k] for k in ("version", "files_before",
                                         "files_after")})
    assert outs[0] == outs[1]


# ---- guards -----------------------------------------------------------------


def _src(mod) -> str:
    return pathlib.Path(mod.__file__).read_text()


def test_txlog_has_one_commit_site_and_one_retry_loop():
    src = _src(txlog)
    assert src.count("self._commit(") == 1
    assert src.count("max_commit_retries + 1") == 1
    assert "self._commit(" in inspect.getsource(LogTable._transact)


def test_range_and_zorder_clustering_only_in_layout():
    body = inspect.getsource(maintenance.layout)
    assert "repartitionByRange(" in body
    for needle in ("repartitionByRange(", "zorder_value("):
        outside = sum(
            _src(m).count(needle) for m in (txlog, maintenance)
        ) - body.count(needle)
        assert outside == 0, needle
