"""Run the benchmark over several seeds and summarize each metric.

    python3 perfbench/sweep.py --workload lake_build --seeds 1-10 [--out sweep.json]

Runs ``perfbench/run.py`` once per seed (sequentially, from the repository
root) and prints, per metric, the median, the quartiles and the spread
``(q3 - q1) / median`` from ``statistics.quantiles(values, n=4)``, next to
the metric's bound in ``BENCHMARK.json``. ``--out`` also writes the raw
values, the summary and each run's host context as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    if len(seeds(args.seeds)) < 2:
        ap.error("quartiles need at least two seeds")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    runs = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
             "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            return 1
        result, record = json.loads(lines[-1]), json.loads(lines[-2])
        runs.append({"seed": seed, "result": result, "host": record["host"],
                     "problems": record["problems"],
                     "detail": record["detail"],
                     "elapsed_s": time.perf_counter() - t0})
        vals = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} {vals}",
              flush=True)

    names = list(runs[0]["result"]["metrics"])
    summary = {}
    for name in names:
        values = [r["result"]["metrics"][name]["value"] for r in runs]
        summary[name] = {**summarize(values), "bound": bounds.get(name),
                         "values": values}
        s = summary[name]
        print(f"{name:40s} median {s['median']:12.4f} spread {s['spread']:.3f}"
              f" bound {s['bound']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": runs,
                       "summary": summary}, f, indent=1)
    return 0 if all(r["result"]["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
