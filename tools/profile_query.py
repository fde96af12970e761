#!/usr/bin/env python3
"""Per-query optimization profiler (guide §1: measure first).

For each named query (registry or bench SCALED entry) this reports, as one
JSON line per query:

- ``build_s``:   DataFrame construction (driver-side Python + analysis)
- ``plan_s``:    time to produce the optimized plan + formatted explain
- ``run1_s``:    first full materialization (codegen compile included)
- ``run2_s``:    second materialization (steady state — the bench's min)
- plan-shape counters: #Exchange, #Sort, #*EvalPython/MapInPandas/
  FlatMapGroupsInPandas (the Python boundary), #SortMergeJoin/
  #BroadcastHashJoin, #jobs observed, plan line count. The counters read
  the FINAL DataFrame's plan only: a query whose intermediate steps are
  lazily checkpointed (the graph-search hops) shows just the last step's
  plan, so operators removed or added in earlier hops are invisible here

and optionally writes the formatted plan to --plans-dir/<name>_<tag>.txt.

Timing uses the same collect() action as bench.py so numbers are directly
comparable; pass --noop to time a noop sink instead (guide §1.4) when a
query's collect volume is non-trivial.

Usage:
    python tools/profile_query.py [--plans-dir DIR --tag before]
                                  [--noop] name [name ...]
"""
from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _plan_counts(plan: str) -> dict[str, int]:
    c = {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "sorts": len(re.findall(r"\bSort\b", plan)),
        "py_nodes": len(
            re.findall(
                r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow"
                r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas",
                plan,
            )
        ),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "plan_lines": plan.count("\n"),
    }
    return c


def main() -> None:
    args = sys.argv[1:]
    plans_dir = None
    tag = "before"
    use_noop = False
    while args and args[0].startswith("--"):
        if args[0] == "--plans-dir":
            plans_dir = args[1]
            args = args[2:]
        elif args[0] == "--tag":
            tag = args[1]
            args = args[2:]
        elif args[0] == "--noop":
            use_noop = True
            args = args[1:]
        else:
            raise SystemExit(f"unknown flag {args[0]}")
    names = args
    spark, sf_dir = bench.warm_session("profile_query")

    for name in names:
        fn = bench.entry(name)
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.time()
        df = fn(spark, sf_dir)
        build_s = time.time() - t0

        t0 = time.time()
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        plan_s = time.time() - t0
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
                f.write(plan)

        def _run() -> float:
            t = time.time()
            # a fresh build per run matches bench.py (each bench run calls
            # fn() again, re-paying analysis/optimization)
            d = fn(spark, sf_dir)
            if use_noop:
                d.write.format("noop").mode("overwrite").save()
            else:
                d.collect()
            return time.time() - t

        run1 = _run()
        run2 = _run()
        rec = {
            "name": name,
            "build_s": round(build_s, 3),
            "plan_s": round(plan_s, 3),
            "run1_s": round(run1, 3),
            "run2_s": round(run2, 3),
            **_plan_counts(plan),
        }
        print(json.dumps(rec), flush=True)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
