"""Streaming k-NN-graph maintenance scaling probe (SCALING.md evidence).

Round-6 verdict flagged the old single-parquet graph state as O(corpus)
I/O per micro-batch. The r7 store partitions edges by
``bucket = pmod(hash(src), P)`` and rewrites only touched buckets, with
an append-only node store. This probe measures what that buys: it seeds
an accumulated state at 1x and 10x corpus, then folds CONSTANT-size
batches into each and reports per-batch wall plus the bytes/files
actually (re)written under the state dir. The claim being evidenced:
per-batch cost tracks the DELTA, not the accumulated corpus — rewritten
bytes and wall grow far slower than the 10x state growth.

Usage: python tools/graph_stream_scaling.py [batch_size] [n_batches] [phases]
  phases: comma-separated replica factors (default "1,10")
Prints one JSON line per measured batch.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from transcription_lakehouse_spark.session import get_spark  # noqa: E402
from transcription_lakehouse_spark.streaming.ingest import (  # noqa: E402
    stream_graph_update,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _snapshot(state: str) -> dict[str, tuple[int, float]]:
    return {
        p: (os.path.getsize(p), os.path.getmtime(p))
        for p in glob.glob(state + "/**/*.parquet", recursive=True)
    }


def _written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present-or-changed in `after` vs `before`."""
    files = [p for p, sig in after.items() if before.get(p) != sig]
    return len(files), sum(after[p][0] for p in files)


def main() -> None:
    batch_size = int(sys.argv[1]) if len(sys.argv) > 1 else 500
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    phases = [
        int(x) for x in (sys.argv[3] if len(sys.argv) > 3 else "1,10").split(",")
    ]
    spark = get_spark(app_name="graph-stream-scaling")
    base = duckdb.sql(
        f"SELECT vec_id, embedding FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    n0 = len(base)

    def _rows(replicas: int):
        # perturbed replicas (deterministic, no RNG): verbatim copies
        # would all share LSH buckets and quadratically inflate the fold's
        # candidate join — and a corpus of exact duplicates is not the
        # workload the probe models anyway
        out = []
        for r in range(replicas):
            for vid, emb in base:
                out.append((
                    r * n0 + vid,
                    [float(x) + ((r * 31 + d) % 7 - 3) * 1e-3
                     for d, x in enumerate(emb)],
                ))
        return out

    for replicas in phases:
        label = f"state_{replicas}x"
        tmp = tempfile.mkdtemp(prefix=f"graph_stream_{label}_")
        d = os.path.join(tmp, "in")
        os.makedirs(d)
        state = os.path.join(tmp, "state")
        ck = os.path.join(tmp, "ck")
        seed = _rows(replicas)
        with open(os.path.join(d, "seed.jsonl"), "w") as f:
            for vid, emb in seed:
                f.write(json.dumps({"vec_id": vid, "embedding": emb}) + "\n")
        t0 = time.time()
        # 10 planes/band: the knn_lsh_20x rule — finer buckets bound the
        # per-bucket candidate sets as the corpus grows
        q = stream_graph_update(spark, d, state, ck, planes_per_band=10)
        if not q.awaitTermination(1800):
            q.stop()
            raise RuntimeError("seed batch exceeded 1800s; evidence invalid")
        seed_wall = time.time() - t0
        snap = _snapshot(state)
        state_bytes = sum(s for s, _ in snap.values())
        print(json.dumps({
            "phase": label, "batch": "seed", "state_nodes": len(seed),
            "state_bytes": state_bytes, "wall_sec": round(seed_wall, 1),
        }), flush=True)
        # constant-size batches folded into the accumulated state; ids
        # continue past every replica so each batch is genuinely new
        next_id = replicas * n0 + n0
        for i in range(n_batches):
            batch = [
                (next_id + j,
                 [float(x) + ((i * 13 + j + d) % 5 - 2) * 1e-3
                  for d, x in enumerate(base[j % n0][1])])
                for j in range(batch_size)
            ]
            next_id += batch_size
            with open(os.path.join(d, f"b{i}.jsonl"), "w") as f:
                for vid, emb in batch:
                    f.write(
                        json.dumps({"vec_id": vid, "embedding": emb}) + "\n"
                    )
            t0 = time.time()
            q = stream_graph_update(spark, d, state, ck, planes_per_band=10)
            if not q.awaitTermination(1800):
                q.stop()
                raise RuntimeError(f"batch {i} exceeded 1800s")
            wall = time.time() - t0
            snap2 = _snapshot(state)
            n_files, n_bytes = _written(snap, snap2)
            snap = snap2
            print(json.dumps({
                "phase": label, "batch": i, "batch_size": batch_size,
                "state_bytes": sum(s for s, _ in snap.values()),
                "written_files": n_files, "written_bytes": n_bytes,
                "wall_sec": round(wall, 1),
            }), flush=True)


if __name__ == "__main__":
    main()
