"""Lineage truncation with a conf-driven reliability mode (r11 verdict #2).

Hot iterative paths (connected components, beam walks, k-center rounds,
the shared curation-input pin) truncate lineage so plans stay bounded.
``DataFrame.localCheckpoint`` is the right local-mode tool — no
checkpoint-dir round trip — but it stores blocks on executors WITHOUT
replication: on a real cluster an executor loss makes the truncated
lineage unrecoverable and fails the job. At 100 TB the edge lists and
beam fragments need reliable checkpointing instead.

``cut_lineage`` keeps the call sites mode-agnostic:

- ``spark.lakehouse.checkpoint.mode = local`` (default): ``localCheckpoint``
  — identical to the pre-r12 behavior, zero new cost locally.
- ``spark.lakehouse.checkpoint.mode = reliable``: ``DataFrame.checkpoint``
  into ``spark.lakehouse.checkpoint.dir`` (or the already-set
  ``SparkContext`` checkpoint dir; a cluster deployment points this at
  HDFS/object storage, and a non-local master without either is an
  error). Survives executor loss; costs one write+read of the truncated
  relation, which is the standard durability trade.

Values are identical in both modes — a checkpoint materializes, never
recomputes, its input. ``tests/test_ckpt_modes.py`` pins mode parity on
the operators that truncate lineage.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

__all__ = ["cut_lineage", "MODE_CONF", "DIR_CONF"]

MODE_CONF = "spark.lakehouse.checkpoint.mode"
DIR_CONF = "spark.lakehouse.checkpoint.dir"


def _mode(spark) -> str:
    try:
        return spark.conf.get(
            MODE_CONF, os.environ.get("SPARK_GRAFT_CKPT_MODE", "local")
        )
    except Exception:  # noqa: BLE001 - conf service unavailable: local-mode default
        return "local"


def _context_dir(sc) -> str | None:
    """The ``SparkContext``'s checkpoint directory, if one is set."""
    try:
        opt = sc._jsc.sc().getCheckpointDir()
        return opt.get() if opt.isDefined() else None
    except Exception:  # noqa: BLE001 - py4j surface change: treat as unset
        return None


def cut_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage; mode chosen by session conf (see module
    docstring). ``eager=False`` defers materialization to first use in
    both modes.

    Reliable mode on a non-local master refuses to run without a
    configured directory: a node-local ``$TMPDIR`` fallback would not
    survive the executor loss the mode exists for."""
    spark = df.sparkSession
    if _mode(spark) == "reliable":
        sc = spark.sparkContext
        if _context_dir(sc) is None:
            try:
                target = spark.conf.get(DIR_CONF)
            except Exception:  # noqa: BLE001 - conf unset
                if not sc.master.startswith("local"):
                    raise ValueError(
                        f"{MODE_CONF}=reliable on master {sc.master} needs "
                        f"{DIR_CONF} (or a SparkContext checkpoint dir) on "
                        "storage every executor shares"
                    ) from None
                target = os.path.join(
                    os.environ.get("TMPDIR", "/tmp"), "lakehouse_ckpt"
                )
            sc.setCheckpointDir(target)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
