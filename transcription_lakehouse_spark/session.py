"""SparkSession factory tuned for the lakehouse engine.

Local testing runs on ``local[N]`` but every setting here is chosen so the
same plan shape survives a 1000-executor cluster reading ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast).
- ``spark.sql.shuffle.partitions`` sized for the local core count; on a real
  cluster AQE coalesces from a deliberately high initial number, so we set a
  large ``initialPartitionNum`` and let AQE shrink it.
- Arrow enabled for the few Pandas-UDF operators (vector kernels), with a
  bounded batch size so 64-dim embedding batches stay cache-resident.
- UTC session timezone so timestamp arithmetic matches the DuckDB oracle and
  is cluster-location independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_SHUFFLE_PARTITIONS"]


def _cpus() -> int:
    """Local core count: ``SPARK_GRAFT_CPUS`` when set, else the CPUs this
    process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


DEFAULT_SHUFFLE_PARTITIONS = _cpus()


def get_spark(
    app_name: str = "transcription-lakehouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-minded defaults."""
    master = master or f"local[{_cpus()}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- determinism / oracle parity ---
        .config("spark.sql.session.timeZone", "UTC")
        # testdata parquet carries INT64 TIMESTAMP(NANOS) which Spark has no
        # native type for; read as raw nanosecond longs (exact) and convert
        # explicitly in the loader (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- adaptive execution: the 100TB story ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(shuffle_partitions * 4, 64)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- broadcast small dims aggressively (region/nation/supplier) ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Arrow for pandas-UDF vector kernels ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- parquet scan behavior ---
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # write timestamps as TIMESTAMP_MICROS, not the INT96 legacy type:
        # INT96 chunks carry NO usable min/max statistics, so every
        # timestamp-range scan on our own lake layout would lose row-group
        # skipping entirely (measured: zero bytes pruned on a z-ordered ts)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # quieter local runs
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
