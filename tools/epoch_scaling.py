"""Composed incremental-epoch cycle at 20x (SCALING.md evidence).

The individual incremental operators are all gated (`ingest
--incremental` anti-joins episodes, `curate --append` anti-joins placed
doc ids, `stream_graph_update` folds only new vectors); what round 6
lacked was the measured COMPOSITION: one epoch cycle run twice, showing
epoch 2's wall tracks the DELTA, not the accumulated corpus. This tool
runs:

  epoch 1: ingest (full)  -> curate (full)         -> graph seed
  epoch 2: ingest --incremental (+5% new episodes)
           curate --append (+5% new docs)
           stream_graph_update (+5% new vectors)

at bench scale (documents/embeddings replicated 20x: 100k docs, 40k
vectors; 40k utterances) and prints one JSON line per stage per epoch.

Usage: python tools/epoch_scaling.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DOC_FACTOR = 20
VEC_FACTOR = 20
N_EPISODES = 200
UTT_PER_EP = 200
DELTA_PCT = 0.05


def _emit(stage: str, epoch: int, wall: float, **kw) -> None:
    print(json.dumps({
        "stage": stage, "epoch": epoch, "wall_sec": round(wall, 1), **kw,
    }), flush=True)


def _write_episodes(d: str, ep_range) -> None:
    for e in ep_range:
        with open(os.path.join(d, f"ep{e:05d}.jsonl"), "w") as f:
            t = 0.0
            for u in range(UTT_PER_EP):
                dur = 2.0 + ((e * 7 + u) % 9) * 0.5
                f.write(json.dumps({
                    "episode_id": f"ep{e:05d}",
                    "start": round(t, 2),
                    "end": round(t + dur, 2),
                    "speaker": f"spk{(e + u) % 6}",
                    "text": (f"utterance {u} of episode {e} covering topic "
                             f"{(e * u) % 97} in plain conversational words"),
                }) + "\n")
                t += dur + 0.25


def main() -> None:
    from click.testing import CliRunner

    from transcription_lakehouse_spark.cli import cli
    from transcription_lakehouse_spark.session import get_spark
    from transcription_lakehouse_spark.streaming.ingest import (
        stream_graph_update,
    )

    spark = get_spark(app_name="epoch-scaling")
    runner = CliRunner()
    tmp = tempfile.mkdtemp(prefix="epoch_scaling_")

    # ---- fixtures -------------------------------------------------------
    docs = duckdb.sql(
        f"SELECT doc_id, text, lang, source FROM "
        f"read_parquet('{SF_DIR}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    n_docs = len(docs)
    vecs = duckdb.sql(
        f"SELECT vec_id, embedding FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    n_vecs = len(vecs)

    docs_dir = os.path.join(tmp, "docs")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR)"
    )
    for r in range(DOC_FACTOR):
        con.executemany(
            "INSERT INTO d VALUES (?, ?, ?, ?)",
            [(r * n_docs + did, f"{txt} r{r}", lang, src)
             for did, txt, lang, src in docs],
        )
    os.makedirs(docs_dir)
    con.execute(f"COPY d TO '{docs_dir}/part0.parquet' (FORMAT PARQUET)")

    tr_dir = os.path.join(tmp, "transcripts")
    os.makedirs(tr_dir)
    _write_episodes(tr_dir, range(N_EPISODES))

    vec_dir = os.path.join(tmp, "vec_in")
    os.makedirs(vec_dir)
    with open(os.path.join(vec_dir, "seed.jsonl"), "w") as f:
        for r in range(VEC_FACTOR):
            for vid, emb in vecs:
                f.write(json.dumps({
                    "vec_id": r * n_vecs + vid,
                    "embedding": [
                        float(x) + ((r * 31 + d) % 7 - 3) * 1e-3
                        for d, x in enumerate(emb)
                    ],
                }) + "\n")

    lake = os.path.join(tmp, "lake")
    shards = os.path.join(tmp, "shards")
    gstate = os.path.join(tmp, "graph_state")
    gck = os.path.join(tmp, "graph_ck")

    # ---- epoch 1: full corpus ------------------------------------------
    t0 = time.time()
    r = runner.invoke(cli, ["ingest", tr_dir, "--lakehouse-path", lake,
                            "--incremental"])
    assert r.exit_code == 0, r.output
    _emit("ingest", 1, time.time() - t0,
          n_episodes=N_EPISODES, n_utterances=N_EPISODES * UTT_PER_EP)

    t0 = time.time()
    r = runner.invoke(cli, ["curate", docs_dir, shards, "--shards", "16"])
    assert r.exit_code == 0, r.output
    _emit("curate", 1, time.time() - t0, n_docs=n_docs * DOC_FACTOR)

    t0 = time.time()
    q = stream_graph_update(spark, vec_dir, gstate, gck, planes_per_band=10)
    assert q.awaitTermination(1800), "graph seed timed out"
    _emit("graph", 1, time.time() - t0, n_vectors=n_vecs * VEC_FACTOR)

    # ---- epoch 2: +5% deltas -------------------------------------------
    d_eps = int(N_EPISODES * DELTA_PCT)
    _write_episodes(tr_dir, range(N_EPISODES, N_EPISODES + d_eps))
    t0 = time.time()
    r = runner.invoke(cli, ["ingest", tr_dir, "--lakehouse-path", lake,
                            "--incremental"])
    assert r.exit_code == 0, r.output
    _emit("ingest", 2, time.time() - t0, n_new_episodes=d_eps)

    d_docs = int(n_docs * DOC_FACTOR * DELTA_PCT)
    con.execute("DELETE FROM d")
    con.executemany(
        "INSERT INTO d VALUES (?, ?, ?, ?)",
        [(DOC_FACTOR * n_docs + j, f"{docs[j % n_docs][1]} epoch2 {j}",
          docs[j % n_docs][2], docs[j % n_docs][3])
         for j in range(d_docs)],
    )
    con.execute(f"COPY d TO '{docs_dir}/part1.parquet' (FORMAT PARQUET)")
    t0 = time.time()
    r = runner.invoke(cli, ["curate", docs_dir, shards, "--shards", "16",
                            "--append", "--seed", "epoch2"])
    assert r.exit_code == 0, r.output
    _emit("curate", 2, time.time() - t0, n_new_docs=d_docs)

    d_vecs = int(n_vecs * VEC_FACTOR * DELTA_PCT)
    with open(os.path.join(vec_dir, "delta.jsonl"), "w") as f:
        for j in range(d_vecs):
            f.write(json.dumps({
                "vec_id": VEC_FACTOR * n_vecs + n_vecs + j,
                "embedding": [
                    float(x) + ((j + d) % 5 - 2) * 1e-3
                    for d, x in enumerate(vecs[j % n_vecs][1])
                ],
            }) + "\n")
    t0 = time.time()
    q = stream_graph_update(spark, vec_dir, gstate, gck, planes_per_band=10)
    assert q.awaitTermination(1800), "graph delta timed out"
    _emit("graph", 2, time.time() - t0, n_new_vectors=d_vecs)


if __name__ == "__main__":
    main()
