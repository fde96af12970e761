from __future__ import annotations

import re

import pyspark.sql.functions as F

from tests.fixtures import EP1, dirty_utterances, raw_utterances
from transcription_lakehouse_spark.ids import ID_PATTERN
from transcription_lakehouse_spark.ingestion import (
    incremental_filter,
    normalize,
    read_versioned,
    split_valid,
    write_versioned,
)
from transcription_lakehouse_spark.schemas import UTTERANCE_SCHEMA, validate_schema


def test_split_valid_keeps_clean_rows(spark):
    valid, invalid = split_valid(raw_utterances(spark))
    assert invalid.count() == 0
    assert valid.count() == raw_utterances(spark).count()


def test_split_valid_flags_each_dirty_row(spark):
    valid, invalid = split_valid(dirty_utterances(spark))
    assert valid.count() == 0
    errs = {r["text"]: r["error"] for r in invalid.collect()}
    assert "missing episode_id" in errs["missing episode"]
    assert "negative start" in errs["negative start"]
    assert "end <= start" in errs["zero duration"]
    assert "end <= start" in errs["end before start"]
    assert "missing/empty speaker" in errs["empty speaker"]
    assert any("missing start" in e for e in errs.values())


def test_normalize_ids_positions_duration(spark):
    out = normalize(raw_utterances(spark))
    rows = out.filter(F.col("episode_id") == EP1).orderBy("start").collect()
    # position encoded in id is sequential from 0 within episode
    for i, r in enumerate(rows):
        assert re.match(ID_PATTERN, r["utterance_id"]), r["utterance_id"]
        assert int(r["utterance_id"].split("_")[2]) == i
        assert abs(r["duration"] - (r["end"] - r["start"])) < 1e-9


def test_normalize_is_deterministic(spark):
    a = sorted(r["utterance_id"] for r in normalize(raw_utterances(spark)).collect())
    b = sorted(r["utterance_id"] for r in normalize(raw_utterances(spark)).collect())
    assert a == b


def test_write_read_roundtrip_with_schema_enforcement(spark, tmp_path):
    norm = normalize(raw_utterances(spark))
    path = write_versioned(norm, str(tmp_path), "normalized", schema=UTTERANCE_SCHEMA)
    back = read_versioned(spark, str(tmp_path), "normalized")
    assert back.count() == norm.count()
    assert validate_schema(back, UTTERANCE_SCHEMA) == []
    assert path.endswith("normalized/v1")


def test_write_versioned_rejects_bad_schema(spark, tmp_path):
    bad = raw_utterances(spark)  # lacks utterance_id etc.
    try:
        write_versioned(bad, str(tmp_path), "normalized", schema=UTTERANCE_SCHEMA)
        raise AssertionError("expected schema enforcement failure")
    except ValueError as e:
        assert "schema enforcement failed" in str(e)


def test_incremental_filter_drops_seen_episodes(spark):
    raw = raw_utterances(spark)
    existing = raw.filter(F.col("episode_id") == EP1)
    out = incremental_filter(raw, existing)
    assert out.filter(F.col("episode_id") == EP1).count() == 0
    assert out.count() == raw.count() - existing.count()


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    """Small-file compaction: 64 tiny files -> few size-targeted files,
    byte-identical row multiset, old version untouched."""
    from transcription_lakehouse_spark.maintenance import compact, file_stats

    src = str(tmp_path / "v1")
    dst = str(tmp_path / "v2")
    spark.range(10_000).selectExpr(
        "id", "id % 97 AS k", "repeat('x', 50) AS pad"
    ).repartition(64).write.parquet(src)
    assert file_stats(src)["n_files"] == 64

    stats = compact(spark, src, dst, target_file_bytes=256 * 1024,
                    cluster_by=["k"])
    assert stats["n_files_before"] == 64
    assert stats["n_files_after"] < 16
    assert stats["rows"] == 10_000

    a = spark.read.parquet(src).orderBy("id").collect()
    b = spark.read.parquet(dst).orderBy("id").collect()
    assert a == b
    # immutability: source still intact after compaction
    assert file_stats(src)["n_files"] == 64


def test_merge_upsert_replaces_and_inserts(spark, tmp_path):
    from transcription_lakehouse_spark.maintenance import merge_upsert

    src = str(tmp_path / "t1")
    dst = str(tmp_path / "t2")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id int, v string"
    ).write.parquet(src)
    updates = spark.createDataFrame(
        [(2, "B2"), (4, "d")], "id int, v string"
    )
    stats = merge_upsert(spark, src, dst, updates, ["id"])
    assert stats == {
        "existing": 3,
        "keys_updated": 1,
        "rows_replaced": 1,
        "inserted": 1,
        "rows_out": 4,
    }
    got = {r["id"]: r["v"] for r in spark.read.parquet(dst).collect()}
    assert got == {1: "a", 2: "B2", 3: "c", 4: "d"}
    # old version untouched
    old = {r["id"]: r["v"] for r in spark.read.parquet(src).collect()}
    assert old == {1: "a", 2: "b", 3: "c"}


def test_compaction_sort_clusters_row_groups(spark, tmp_path):
    """cluster_by makes parquet min/max stats selective: after sorting
    by k, each output file covers a narrow disjoint k range (the data-
    skipping footprint a filtered 100 TB scan prunes on), while the
    unsorted source files all span nearly the full domain."""
    import glob

    import pyarrow.parquet as pq

    from transcription_lakehouse_spark.maintenance import compact

    src = str(tmp_path / "u1")
    dst = str(tmp_path / "u2")
    spark.range(40_000).selectExpr(
        "id", "CAST(hash(id) % 1000 AS INT) AS k", "repeat('x', 30) AS pad"
    ).repartition(16).write.parquet(src)

    def rg_widths(path):
        widths = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            ki = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == "k"
            )
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(ki).statistics
                widths.append(st.max - st.min)
        return widths

    stats = compact(
        spark, src, dst, target_file_bytes=32 * 1024, cluster_by=["k"]
    )
    assert stats["n_files_after"] >= 4, stats
    # hash-repartitioned source: every row group spans ~the whole k domain
    src_w = rg_widths(src)
    assert min(src_w) > 900, src_w
    # range-clustered compaction: each file owns a disjoint k slice, so a
    # k-filter prunes whole files by footer stats alone
    dst_w = rg_widths(dst)
    assert sum(dst_w) / len(dst_w) < 0.5 * sum(src_w) / len(src_w), (
        src_w,
        dst_w,
    )


def test_merge_upsert_rejects_duplicate_update_keys(spark, tmp_path):
    import pytest

    from transcription_lakehouse_spark.maintenance import merge_upsert

    src = str(tmp_path / "m1")
    spark.createDataFrame([(1, "a")], "id int, v string").write.parquet(src)
    dupes = spark.createDataFrame(
        [(1, "x"), (1, "y")], "id int, v string"
    )
    with pytest.raises(ValueError, match="distinct keys"):
        merge_upsert(spark, src, str(tmp_path / "m2"), dupes, ["id"])


def test_version_diff_tags_added_removed_changed(spark, tmp_path):
    """Row-level version diff: only the delta comes back, tagged by kind;
    identical versions diff to empty."""
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark.maintenance import version_diff

    a = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0), (3, "z", 3.0)],
        "id long, name string, score double",
    )
    pa, pb, pc = (str(tmp_path / p) for p in ("va", "vb", "vc"))
    a.write.parquet(pa)
    # b: drop id=3, change id=2, add id=4
    b = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 9.9), (4, "w", 4.0)],
        "id long, name string, score double",
    )
    b.write.parquet(pb)
    got = {
        r["id"]: r["change"]
        for r in version_diff(spark, pa, pb, ["id"]).collect()
    }
    assert got == {2: "changed", 3: "removed", 4: "added"}
    # identical copies diff empty (row order / partitioning irrelevant)
    spark.read.parquet(pa).repartition(7).write.parquet(pc)
    assert version_diff(spark, pa, pc, ["id"]).count() == 0
    # duplicate-key cardinality change reads as changed
    a.unionByName(a.filter(F.col("id") == 1)).write.mode("overwrite").parquet(pb)
    got2 = {
        r["id"]: r["change"]
        for r in version_diff(spark, pa, pb, ["id"]).collect()
    }
    assert got2 == {1: "changed"}
    # NULL keys are null-safe: identical NULL-keyed rows diff empty, a
    # changed NULL-keyed row reads as changed (not added+removed)
    n1 = spark.createDataFrame(
        [(None, "n", 0.5), (9, "q", 9.0)], "id long, name string, score double"
    )
    pn1, pn2 = str(tmp_path / "n1"), str(tmp_path / "n2")
    n1.write.parquet(pn1)
    n1.write.parquet(pn2)
    assert version_diff(spark, pn1, pn2, ["id"]).count() == 0
    spark.createDataFrame(
        [(None, "n", 7.7), (9, "q", 9.0)], "id long, name string, score double"
    ).write.mode("overwrite").parquet(pn2)
    got3 = {
        r["id"]: r["change"]
        for r in version_diff(spark, pn1, pn2, ["id"]).collect()
    }
    assert got3 == {None: "changed"}


def test_read_as_of_resolves_version_by_timestamp_and_label(spark, tmp_path):
    """Time-travel reader (SURVEY §1.1 snapshot<->time-travel mapping):
    write v1/v2, resolve by label, by as_of instant, and latest; a rollback
    audit composes the resolved paths with version_diff."""
    from transcription_lakehouse_spark.ingestion import (
        list_versions,
        read_as_of,
        write_versioned,
    )
    from transcription_lakehouse_spark.maintenance import version_diff

    base = str(tmp_path)
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, val string")
    v2 = spark.createDataFrame([(1, "a"), (2, "B"), (3, "c")], "id int, val string")
    p1 = write_versioned(v1, base, "t", "v1")
    p2 = write_versioned(v2, base, "t", "v2")

    versions = list_versions(base, "t")
    assert [v["version"] for v in versions] == ["v1", "v2"]
    t1, t2 = versions[0]["created_at"], versions[1]["created_at"]
    assert t1 <= t2

    # label pins; as_of between the writes resolves v1; no as_of -> latest
    assert read_as_of(spark, base, "t", version="v1").count() == 2
    assert read_as_of(spark, base, "t", as_of=t1).count() == 2
    assert read_as_of(spark, base, "t", as_of=t2).count() == 3
    assert read_as_of(spark, base, "t").count() == 3

    import pytest

    with pytest.raises(ValueError, match="no version"):
        read_as_of(spark, base, "t", as_of="2000-01-01T00:00:00+00:00")

    # rollback verification: diff of the two resolved versions
    changes = {
        (r["id"], r["change"])
        for r in version_diff(spark, p1, p2, ["id"]).collect()
    }
    assert changes == {(2, "changed"), (3, "added")}


def test_read_as_of_falls_back_to_mtime_without_sidecar(spark, tmp_path):
    """Pre-sidecar lakes stay resolvable: mtime fallback."""
    import os

    from transcription_lakehouse_spark.ingestion import list_versions, write_versioned

    base = str(tmp_path)
    df = spark.createDataFrame([(1,)], "id int")
    p = write_versioned(df, base, "t", "v1")
    os.remove(os.path.join(p, "_version_info.json"))
    versions = list_versions(base, "t")
    assert len(versions) == 1 and versions[0]["created_at"]
    # the fallback lazily stamps a sidecar so ordering is persisted once
    assert os.path.exists(os.path.join(p, "_version_info.json"))


def test_list_versions_survives_old_version_file_rewrite(spark, tmp_path):
    """An old version whose parquet files get rewritten (mtime newer than a
    younger version's creation stamp) must NOT sort as newest: creation
    order comes from sidecars — lazily stamped from the EARLIEST file mtime
    for pre-sidecar versions — so read_as_of latest-resolution and vacuum
    keep_last retention stay correct."""
    import json
    import os
    import time

    from transcription_lakehouse_spark.ingestion import (
        list_versions,
        read_as_of,
        write_versioned,
    )

    base = str(tmp_path)
    p1 = write_versioned(spark.createDataFrame([(1,)], "id int"), base, "t", "v1")
    # v1 written before the sidecar era
    os.remove(os.path.join(p1, "_version_info.json"))
    time.sleep(0.05)
    write_versioned(spark.createDataFrame([(2,)], "id int"), base, "t", "v2")
    # stamp v1's sidecar from its (early) file mtimes BEFORE any rewrite
    assert [v["version"] for v in list_versions(base, "t")] == ["v1", "v2"]
    # now REWRITE v1's data files — mtimes jump past v2's creation stamp
    time.sleep(0.05)
    for f in os.listdir(p1):
        if f.endswith(".parquet"):
            os.utime(os.path.join(p1, f))
    assert [v["version"] for v in list_versions(base, "t")] == ["v1", "v2"]
    assert read_as_of(spark, base, "t").collect()[0]["id"] == 2
    # equal-timestamp tiebreak is the version label (stable ordering)
    for v in ("v1", "v2"):
        meta = os.path.join(base, "t", v, "_version_info.json")
        with open(meta) as fh:
            info = json.load(fh)
        info["created_at"] = "2024-01-01T00:00:00+00:00"
        with open(meta, "w") as fh:
            json.dump(info, fh)
    assert [v["version"] for v in list_versions(base, "t")] == ["v1", "v2"]


def test_vacuum_retention_keeps_newest_and_respects_cutoff(spark, tmp_path):
    from transcription_lakehouse_spark.ingestion import (
        list_versions,
        read_as_of,
        write_versioned,
    )
    from transcription_lakehouse_spark.maintenance import vacuum

    base = str(tmp_path)
    df = spark.createDataFrame([(1,)], "id int")
    for v in ("v1", "v2", "v3"):
        write_versioned(df, base, "t", v)

    # dry run reports without deleting
    assert vacuum(base, "t", keep_last=1, dry_run=True) == ["v1", "v2"]
    assert [v["version"] for v in list_versions(base, "t")] == ["v1", "v2", "v3"]

    # keep_last=2 removes only v1
    assert vacuum(base, "t", keep_last=2) == ["v1"]
    assert [v["version"] for v in list_versions(base, "t")] == ["v2", "v3"]

    # newest survives even keep_last=1 + epoch-wide cutoff combination:
    # older_than before all creations -> nothing qualifies
    assert vacuum(base, "t", keep_last=1, older_than="2000-01-01T00:00:00+00:00") == []

    # time travel still resolves what remains
    assert read_as_of(spark, base, "t").count() == 1

    import pytest

    with pytest.raises(ValueError, match="keep_last"):
        vacuum(base, "t", keep_last=0)


def test_normalize_preserves_extra_metadata_columns(spark, tmp_path):
    """Reference tolerates extra columns at validation (`schemas.py:159-163`)
    and preserves additional metadata fields through normalization
    (`normalizer.py:70-73`): a `confidence`/`language` column must survive
    ingest end-to-end — through normalize AND the schema-enforced versioned
    write — not be silently dropped."""
    extra = raw_utterances(spark).withColumn(
        "confidence", F.col("start") / 1000.0
    ).withColumn("language", F.lit("en"))
    valid, invalid = split_valid(extra)
    assert invalid.count() == 0  # extras don't affect validation
    norm = normalize(valid)
    # canonical columns lead, extras follow, values ride through untouched
    assert norm.columns[:7] == [
        "utterance_id", "episode_id", "start", "end", "duration", "speaker", "text",
    ]
    assert set(norm.columns[7:]) == {"confidence", "language"}
    r = norm.filter(F.col("episode_id") == EP1).orderBy("start").first()
    assert r["language"] == "en" and abs(r["confidence"] - r["start"] / 1000.0) < 1e-12
    # schema-enforced write keeps the extras too
    write_versioned(norm, str(tmp_path), "normalized", schema=UTTERANCE_SCHEMA)
    back = read_versioned(spark, str(tmp_path), "normalized")
    assert {"confidence", "language"} <= set(back.columns)
    assert validate_schema(back, UTTERANCE_SCHEMA) == []
    # opt-out still hard-selects the canonical seven
    assert normalize(extra, keep_extra=False).columns == [
        "utterance_id", "episode_id", "start", "end", "duration", "speaker", "text",
    ]
