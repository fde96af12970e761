"""Testdata table loader.

Mirrors the reference's parquet-scan-with-pruning source (S9,
``/root/reference/src/lakehouse/ingestion/writer.py:191-217``) — in Spark the
column pruning and predicate pushdown happen automatically in Catalyst, so the
loader is just a thin, schema-stable ``spark.read.parquet``.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

# Timestamp-bearing columns in the testdata parquet. events.ts is INT64
# TIMESTAMP(NANOS) (surfaces as an exact ns long under
# spark.sql.legacy.parquet.nanosAsLong); orders/lineitem dates are µs
# TIMESTAMP_NTZ. DuckDB (the correctness oracle) truncates nanos to µs on
# read, so every oracle-facing value uses MICROsecond precision: we expose
# `<col>_us` = floor(ns/1000), which equals DuckDB's epoch_us(col).
_NANOS_TS_COLUMNS = {
    "events": {"ts": "timestamp"},
    "orders": {"o_orderdate": "date"},
    "lineitem": {"l_shipdate": "date"},
}

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # events.ts is INT64 TIMESTAMP(NANOS); Spark only reads it with this
    # legacy conf (runtime-settable). Set defensively — the driver's session
    # may not have been built by our session factory.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # noqa: BLE001 - conf locked: rely on session defaults
        pass
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col, kind in _NANOS_TS_COLUMNS.get(name, {}).items():
        dtype = df.schema[col].dataType.simpleString()
        if dtype == "bigint":  # INT64 TIMESTAMP(NANOS) read as raw ns long
            # integer `div`, NOT floor(x/1000): the double division rounds at
            # 1e18 magnitude and lands one µs off DuckDB's truncation
            micros = F.expr(f"{col} div 1000")
            ts = F.timestamp_micros(micros)
        else:  # timestamp / timestamp_ntz at µs precision
            ts = F.col(col).cast("timestamp")
            micros = F.unix_micros(ts)
        df = df.withColumn(f"{col}_us", micros.cast("long"))
        df = df.withColumn(col, F.to_date(ts) if kind == "date" else ts)
    return df


def replicate(df: DataFrame, factor: int, *keys: str) -> DataFrame:
    """``factor`` copies of ``df`` with distinct keys: each key ``k`` becomes
    ``k * factor + rep``, so ``k // factor`` recovers the source row. The
    other columns ride along unchanged, plus ``rep`` (0..factor-1) for
    per-replica transforms. The broadcast cross join lands in one input
    partition; the result is spread over ``defaultParallelism`` the way a
    stored table would be, so downstream map stages parallelize."""
    spark = df.sparkSession
    reps = spark.range(factor).withColumnRenamed("id", "rep")
    cols = [
        (F.col(c) * factor + F.col("rep")).alias(c) if c in keys else F.col(c)
        for c in df.columns
    ]
    return (
        df.crossJoin(F.broadcast(reps))
        .select(*cols, "rep")
        .repartition(spark.sparkContext.defaultParallelism)
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
