"""Mode parity for the conf-driven lineage truncation (r12, verdict #2):
``cut_lineage`` in ``reliable`` mode must produce row-identical results to
the default ``localCheckpoint`` mode on the operators that truncate lineage
in their hot loops."""

from __future__ import annotations

import contextlib
import os
from urllib.parse import urlparse

import pyspark.sql.functions as F
import pytest

from transcription_lakehouse_spark import ckpt
from transcription_lakehouse_spark.ckpt import (
    DIR_CONF,
    MODE_CONF,
    _context_dir,
    cut_lineage,
)
from transcription_lakehouse_spark.operators.graph import (
    connected_components,
)
from transcription_lakehouse_spark.operators.graph_ann import (
    build_knn_graph,
    graph_topk,
)

def _embeddings_df(spark, n=80, dims=8):
    import random

    random.seed(7)
    rows = [
        (i, [random.gauss(0, 1.0) for _ in range(dims)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@contextlib.contextmanager
def _mode(spark, mode: str):
    spark.conf.set(MODE_CONF, mode)
    try:
        yield
    finally:
        spark.conf.unset(MODE_CONF)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cut_lineage_reliable_sets_checkpoint_dir(spark, tmp_path):
    df = spark.range(10).withColumn("x", F.col("id") * 2)
    with _mode(spark, "reliable"):
        spark.conf.set(DIR_CONF, str(tmp_path / "ckpt"))
        try:
            out = cut_lineage(df)
        finally:
            spark.conf.unset(DIR_CONF)
        assert _rows(out) == _rows(df)
    # reliable checkpoints truncate lineage to an RDD scan backed by files
    # under the checkpoint dir: the configured one, unless an earlier
    # reliable cut in this SparkContext already fixed it
    used = _context_dir(spark.sparkContext)
    assert used is not None
    assert os.listdir(urlparse(used).path)


def test_cut_lineage_reliable_refuses_node_local_dir_on_cluster(
    spark, monkeypatch
):
    monkeypatch.setattr(spark.sparkContext, "master", "spark://cluster:7077")
    monkeypatch.setattr(ckpt, "_context_dir", lambda sc: None)
    with _mode(spark, "reliable"), pytest.raises(ValueError, match=DIR_CONF):
        cut_lineage(spark.range(3))


@pytest.mark.parametrize("algorithm", ["hash-to-min", "two-phase"])
def test_connected_components_mode_parity(spark, algorithm):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 9), (7, 3)], "a long, b long"
    )
    with _mode(spark, "local"):
        local = _rows(
            connected_components(
                edges, "a", "b", algorithm=algorithm, driver_max_edges=0
            )
        )
    with _mode(spark, "reliable"):
        rel = _rows(
            connected_components(
                edges, "a", "b", algorithm=algorithm, driver_max_edges=0
            )
        )
    assert local == rel
    assert local  # sanity: non-empty


def test_graph_walk_mode_parity(spark):
    emb = _embeddings_df(spark, n=80, dims=8)
    g = build_knn_graph(
        emb, "vec_id", "embedding", k_graph=4, n_bands=4, planes_per_band=2
    )
    queries = emb.filter(F.col("vec_id") % 10 == 0)

    def run():
        return _rows(
            graph_topk(
                queries, emb, g, "vec_id", "embedding",
                k=3, beam=6, hops=2, seed_bands=2, planes_per_band=2,
            )
        )

    with _mode(spark, "local"):
        local = run()
    with _mode(spark, "reliable"):
        rel = run()
    assert local == rel
    assert local


def test_local_checkpoint_only_in_ckpt():
    """Every lineage cut in the package goes through `cut_lineage`, so the
    checkpoint mode switch reaches all of them."""
    import pathlib

    import transcription_lakehouse_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    raw = sorted(
        str(f.relative_to(root))
        for f in root.rglob("*.py")
        if "localCheckpoint(" in f.read_text()
    )
    assert raw == ["ckpt.py"]


def test_stream_cluster_update_mode_parity(spark, tmp_path):
    """A streaming ingest path (dup-cluster maintenance: a first batch,
    then a batch folded into the existing state) lands the same clusters
    in both modes."""
    import json

    from transcription_lakehouse_spark.streaming.ingest import (
        read_versioned_state,
        stream_cluster_update,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the fence and the birds sing in the morning light"
    )
    batches = [
        [{"doc_id": "a1", "text": base},
         {"doc_id": "a2", "text": base + " today"},
         {"doc_id": "b1", "text": "spacecraft navigation and orbital "
                                  "mechanics for deep space missions"}],
        [{"doc_id": "a3", "text": base + " tonight"}],
    ]

    def run(mode):
        d, state = tmp_path / f"in_{mode}", str(tmp_path / f"state_{mode}")
        d.mkdir()
        with _mode(spark, mode):
            for i, docs in enumerate(batches):
                (d / f"{i}.jsonl").write_text(
                    "\n".join(json.dumps(r) for r in docs)
                )
                stream_cluster_update(
                    spark, str(d), state, str(tmp_path / f"ck_{mode}")
                ).awaitTermination(120)
        return _rows(read_versioned_state(spark, f"{state}/clusters"))

    local = run("local")
    assert local == run("reliable")
    assert len(local) == 3  # a1 keeps a2 and a3


def test_matview_refresh_mode_parity(spark, tmp_path):
    """An incremental matview refresh (delta pin, min/max recompute flag,
    change rows — all three cuts) gives the same view in both modes."""
    from transcription_lakehouse_spark.matview import IncrementalAggView
    from transcription_lakehouse_spark.txlog import LogTable

    def mk(rows):
        return spark.createDataFrame(
            [(i, g, i * 0.5) for i, g in rows],
            "id bigint, grp string, val double",
        )

    def run(mode):
        src = LogTable(spark, str(tmp_path / f"src_{mode}"))
        mv = IncrementalAggView(
            spark, src, str(tmp_path / f"mv_{mode}"), group_by="grp",
            sum_cols=["val"], min_cols=["val"], max_cols=["val"],
        )
        with _mode(spark, mode):
            src.append(mk([(1, "a"), (2, "a"), (3, "b")]))
            mv.refresh()
            src.append(mk([(4, "b"), (5, "c")]))
            src.delete("id = 1")  # group a's min: targeted recompute
            mv.refresh()
        return _rows(mv.read())

    local = run("local")
    assert local == run("reliable")
    assert len(local) == 3
