"""Query workload: every operator from SURVEY §2 expressed over the driver
testdata, each with a DuckDB oracle-SQL twin for the correctness gate.

Submodules register (name -> callable(spark, sf_dir) -> DataFrame) in
``QUERIES`` and (name -> ANSI SQL | None) in ``ORACLES``; ``None`` marks a
non-SQL-expressible operator (driver records a rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import events, relational, relational2, text, transcript, vectors

_MODULES = (transcript, vectors, text, events, relational, relational2)

# Registry order is module order, then each module's own definition order.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: fn for m in _MODULES for name, fn in m.QUERIES.items()
}
ORACLES: dict[str, str] = {
    name: sql
    for m in _MODULES
    for name, sql in m.ORACLES.items()
    if sql is not None
}
