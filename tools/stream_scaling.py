"""Streaming cluster-maintenance scaling probe (SCALING.md evidence).

Adversarial workload: each batch re-lands every sf0.01 document as a NEW
near-dup variant, so every batch pairs against the entire prior corpus —
the worst case for an incremental maintainer. A flat per-batch wall while
the corpus and the pair graph grow is the delta-boundedness evidence.

Usage: python tools/stream_scaling.py [n_batches]   (default 6)
Prints one JSON line per batch: corpus size, pairs-store size, wall sec.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from transcription_lakehouse_spark.session import get_spark  # noqa: E402
from transcription_lakehouse_spark.streaming.ingest import (  # noqa: E402
    stream_cluster_update,
)

SF_DIR = "/root/testdata/sf0.01"


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    spark = get_spark(app_name="stream-scaling")
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    tmp = tempfile.mkdtemp(prefix="stream_scaling_")
    d = os.path.join(tmp, "in")
    os.makedirs(d)
    state = os.path.join(tmp, "state")
    ck = os.path.join(tmp, "ck")
    for i in range(n_batches):
        with open(os.path.join(d, f"b{i}.jsonl"), "w") as f:
            for doc_id, text in rows:
                f.write(
                    json.dumps(
                        {"doc_id": f"{doc_id}_r{i}", "text": f"{text} tail{i}"}
                    )
                    + "\n"
                )
        t0 = time.time()
        q = stream_cluster_update(spark, d, state, ck)
        if not q.awaitTermination(300):
            # a timed-out query would overlap the next iteration on the
            # same checkpoint and clamp the measurement — fail loudly
            q.stop()
            raise RuntimeError(f"batch {i} exceeded 300s; evidence invalid")
        wall = time.time() - t0

        def _count(path: str) -> int:
            try:
                if path.endswith("/clusters"):  # versioned store (r7)
                    from transcription_lakehouse_spark.streaming.ingest import (
                        read_versioned_state,
                    )

                    df = read_versioned_state(spark, path)
                    return df.count() if df is not None else 0
                return spark.read.parquet(path).count()
            except Exception:  # state not created yet (no pairs so far)
                return 0

        print(
            json.dumps(
                {
                    "batch": i,
                    "corpus": _count(f"{state}/corpus"),
                    "pairs": _count(f"{state}/pairs"),
                    "clustered": _count(f"{state}/clusters"),
                    "wall_sec": round(wall, 1),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
