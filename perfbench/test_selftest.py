"""Self-test of the benchmark at sf0.001-sized inputs (``--scale 0.05``).

    python3 -m pytest perfbench/test_selftest.py -q

For each workload: an untraced run prints every ``end_to_end`` metric of
``BENCHMARK.json`` with its unit and no failed operation; a traced run
prints every ``per_layer`` metric and records spans. A directory holding
only ``BENCHMARK.json`` and ``perfbench/`` makes the benchmark fail
without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", "0.05"]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                       timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def _units(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in BENCH[kind]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    code, lines = _run(ROOT, workload, 0)
    assert code == 0, lines[-5:]
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == _units("end_to_end")
    assert all(v["value"] > 0 for v in out["metrics"].values())
    record = json.loads(lines[-2])
    assert record["host"]["nproc"] >= 1 and "load1_after" in record["host"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_spans_and_per_layer_metrics(workload):
    code, lines = _run(ROOT, workload, 1)
    assert code == 0, lines[-5:]
    out = json.loads(lines[-1])
    assert out["correct"], json.loads(lines[-2])["problems"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == _units("per_layer")
    spans = json.loads(lines[-2])["spans"]
    assert spans and all(s["end"] >= s["start"] for s in spans)
    assert any(s["counters"]["jobs"] > 0 for s in spans)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = _run(str(tmp_path), WORKLOADS[0], 0)
    assert code != 0
    assert not any(line.startswith('{"correct"') for line in lines)
