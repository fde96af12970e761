"""Local mirror of the driver's correctness gate.

Runs every __spark_entry__.queries() entry and its oracle_sql() twin (DuckDB,
tables registered as views over the same parquet) and compares:
row count, sorted column names, and an order-insensitive value hash.

Bit-faithful to the driver: both sides are materialized through *pandas*
(`toPandas()` / duckdb `.df()`) so engine-side typing artifacts surface here
exactly as they do in the driver — notably DuckDB HUGEINT/DECIMAL, which
pandas coerces to float64 and which therefore hash differently from Spark's
int64 even when every value is numerically equal. Floats NEVER collapse to
int strings (the round-1 masking bug): int64 5 and float64 5.0 are distinct.

Usage: python tools/check.py [sf_dir] [query ...]
       python tools/check.py [sf_dir] --changed-since REF

`--changed-since REF` maps files changed since git REF (plus uncommitted
changes) onto the registry through a static import graph of the package:
a query re-runs iff its workload module transitively imports a changed
module. Changes to gate infra (this file, __spark_entry__.py, session.py,
workload/__init__.py) trigger the full run — over-approximation only,
never under.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PKG = "transcription_lakehouse_spark"

# a change to any of these invalidates every query's certification
_GLOBAL_TRIGGERS = {
    "__spark_entry__.py",
    "tools/check.py",
    f"{PKG}/__init__.py",
    f"{PKG}/session.py",
    f"{PKG}/workload/__init__.py",
}

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _module_of(relpath: str) -> str | None:
    """'pkg/operators/dedup.py' -> 'pkg.operators.dedup'; __init__.py maps
    to its package name."""
    if not relpath.endswith(".py") or not relpath.startswith(PKG + "/"):
        return None
    parts = relpath[:-3].split("/")
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _import_graph() -> dict[str, set[str]]:
    """Static intra-package import graph: module -> set of package modules
    it imports directly (ancestor packages included, since importing
    pkg.a.b executes pkg/__init__ and pkg/a/__init__)."""
    import ast
    import glob as _glob

    graph: dict[str, set[str]] = {}
    files = _glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True)
    mods = {
        m
        for m in (_module_of(os.path.relpath(p, REPO)) for p in files)
        if m is not None
    }
    for path in files:
        rel = os.path.relpath(path, REPO)
        mod = _module_of(rel)
        if mod is None:
            continue
        is_pkg = rel.endswith("__init__.py")
        pkg_parts = mod.split(".") if is_pkg else mod.split(".")[:-1]
        deps: set[str] = set()
        tree = ast.parse(open(path).read(), filename=path)
        for node in ast.walk(tree):
            targets: list[str] = []
            if isinstance(node, ast.Import):
                targets = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                if node.level:
                    anchor = pkg_parts[: len(pkg_parts) - (node.level - 1)]
                    base = ".".join(anchor + ([node.module] if node.module else []))
                else:
                    base = node.module or ""
                targets = [base] + [f"{base}.{a.name}" for a in node.names]
            for t in targets:
                if t in mods:  # filters imported *names* vs modules
                    deps.add(t)
                    # ancestor package __init__s execute on import
                    parts = t.split(".")
                    for i in range(1, len(parts)):
                        anc = ".".join(parts[:i])
                        if anc in mods:
                            deps.add(anc)
        graph[mod] = deps
    return graph


def _transitive(graph: dict[str, set[str]], start: str) -> set[str]:
    seen, stack = {start}, [start]
    while stack:
        for d in graph.get(stack.pop(), ()):
            if d not in seen:
                seen.add(d)
                stack.append(d)
    return seen


def changed_queries(ref: str, queries: dict) -> set[str] | None:
    """Query names affected by files changed since git ``ref`` (committed
    diff + working tree). Returns None to mean 'run everything' (a gate-
    infra file changed)."""
    import subprocess

    out = subprocess.check_output(
        ["git", "diff", "--name-only", ref, "--"], cwd=REPO
    ).decode()
    changed = [line for line in out.splitlines() if line]
    if any(c in _GLOBAL_TRIGGERS for c in changed):
        return None
    changed_mods = {m for m in (_module_of(c) for c in changed) if m is not None}
    if not changed_mods:
        return set()
    graph = _import_graph()
    affected = set()
    closures: dict[str, set[str]] = {}
    for name, fn in queries.items():
        owner = fn.__module__
        if owner not in closures:
            closures[owner] = _transitive(graph, owner)
        if closures[owner] & changed_mods:
            affected.add(name)
    return affected


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return "NULL"  # pandas stores missing ints as NaN; treat uniformly
        return repr(v)  # NO int collapse: float64 must differ from int64
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def _pdf_lines(pdf: pd.DataFrame) -> list[str]:
    cols = sorted(pdf.columns)
    arrs = [pdf[c].to_numpy() for c in cols]
    n = len(pdf)
    return sorted(
        "\x1f".join(_norm_cell(arr[i]) for arr in arrs) for i in range(n)
    )


def table_hash(pdf: pd.DataFrame) -> str:
    h = hashlib.md5()
    for line in _pdf_lines(pdf):
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def _dtype_kind(dt) -> str:
    if pd.api.types.is_float_dtype(dt):
        return "float"
    if pd.api.types.is_integer_dtype(dt):
        return "int"
    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    return "obj"


def main() -> int:
    args = sys.argv[1:]
    since = None
    if "--changed-since" in args:
        i = args.index("--changed-since")
        since = args[i + 1]
        args = args[:i] + args[i + 2 :]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod

    if since is not None:
        affected = changed_queries(since, entrymod.queries())
        if affected is None:
            print(f"gate infra changed since {since}: full run")
        elif not affected:
            print(f"no registry-affecting changes since {since}; 0 queries to run")
            print("\n0 failures")
            return 0
        else:
            print(f"{len(affected)} queries affected since {since}")
            if only:
                only &= affected
                if not only:
                    print(
                        "requested queries are not affected by the change; "
                        "0 queries to run"
                    )
                    print("\n0 failures")
                    return 0
            else:
                only = affected

    from transcription_lakehouse_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        spark_t = time.time() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(spdf)} rows, {spark_t:.1f}s)")
            continue
        t1 = time.time()
        try:
            res = con.execute(oracles[name])
            # surface risky oracle types BEFORE they reach pandas: HUGEINT
            # and DECIMAL coerce to float64 in .df() and will hash-mismatch
            risky = [
                (d[0], str(d[1]))
                for d in res.description
                if "HUGEINT" in str(d[1]).upper() or "DECIMAL" in str(d[1]).upper()
            ]
            opdf = res.df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        duck_t = time.time() - t1
        problems = []
        if risky:
            problems.append(
                f"oracle type risk (CAST to BIGINT/DOUBLE): {risky}"
            )
        if len(spdf) != len(opdf):
            problems.append(f"rowcount spark={len(spdf)} duckdb={len(opdf)}")
        if sorted(spdf.columns) != sorted(opdf.columns):
            problems.append(
                f"cols spark={sorted(spdf.columns)} duckdb={sorted(opdf.columns)}"
            )
        else:
            dt_mismatch = [
                (c, _dtype_kind(spdf[c].dtype), _dtype_kind(opdf[c].dtype))
                for c in spdf.columns
                if _dtype_kind(spdf[c].dtype) != _dtype_kind(opdf[c].dtype)
                and len(spdf) > 0
            ]
            if dt_mismatch:
                problems.append(f"dtype mismatch (col, spark, duckdb): {dt_mismatch}")
        if not problems:
            sh, oh = table_hash(spdf), table_hash(opdf)
            if sh != oh:
                problems.append("value-hash mismatch")
                sset, oset = set(_pdf_lines(spdf)), set(_pdf_lines(opdf))
                for d in sorted(sset - oset)[:3]:
                    print(f"    spark-only: {d!r}")
                for d in sorted(oset - sset)[:3]:
                    print(f"    duck-only:  {d!r}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failures.append(name)
        else:
            # oracle wall printed too: a silently-slow DuckDB twin (e.g. a
            # recursive CTE re-evaluating its upstream per iteration before
            # the MATERIALIZED fences) must be visible, not absorbed
            print(
                f"PASS {name} ({len(spdf)} rows, {spark_t:.1f}s,"
                f" oracle {duck_t:.1f}s)"
            )
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
