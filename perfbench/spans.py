"""Spans and Spark counters for the traced run.

A ``Tracer`` wraps each call into an engine layer in a span (name, start,
end, parent). Every span runs under its own Spark job group, so when it
ends the jobs it issued are read from the status tracker and their stages'
task metrics from the status store: executor run and CPU time, input,
shuffle and output bytes, spill. Python-kernel seconds come from Spark's
UDF profiler (``spark.sql.pyspark.udf.profiler=perf``), enabled only in
the traced run. Spans stay in memory until ``Tracer.spans`` is written
out at the end of the run.

``NullTracer`` has the same interface and does nothing, so the timed runs
carry no tracing cost.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

PROFILER_CONF = {"spark.sql.pyspark.udf.profiler": "perf"}

_MB = 1024.0 * 1024.0


def _stage_metrics(sc, job_ids) -> dict:
    store = sc._jsc.sc().statusStore()
    out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "exec_run_s": 0.0,
           "exec_cpu_s": 0.0, "input_mb": 0.0, "output_mb": 0.0,
           "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    seen = set()
    for jid in job_ids:
        info = sc.statusTracker().getJobInfo(jid)
        for sid in list(info.stageIds) if info else []:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted from the store
                continue
            if st.status().toString() != "COMPLETE":
                continue  # skipped stages reuse an earlier shuffle
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["exec_run_s"] += st.executorRunTime() / 1e3
            out["exec_cpu_s"] += st.executorCpuTime() / 1e9
            out["input_mb"] += st.inputBytes() / _MB
            out["output_mb"] += st.outputBytes() / _MB
            out["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            out["spill_mb"] += (st.memoryBytesSpilled()
                                + st.diskBytesSpilled()) / _MB
    return out


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning milliseconds of an executed
    DataFrame, from its ``QueryExecution`` phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            total += p.get().durationMs()
    return float(total)


def scan_metric(df, key: str) -> int:
    """Sum of SQL metric ``key`` (e.g. ``numFiles``, ``numPartitions``)
    over every file scan in the executed plan, descending through
    adaptive query stages."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            stack.append(node.child())
            continue
        if "Scan" in cls:
            m = node.metrics().get(key)
            if m.isDefined():
                total += int(m.get().value())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return total


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield {}


class Tracer:
    """In-memory span recorder with per-span Spark job groups."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # seconds the tracer itself spent on the driver (span bookkeeping,
        # status-store reads, plan inspection): its direct overhead
        self.bookkeeping_s = 0.0

    def _python_s(self) -> float:
        res = self.spark.profile.profiler_collector._perf_profile_results
        return float(sum(s.total_tt for s in res.values()))

    @contextmanager
    def span(self, name: str, **attrs):
        t_enter = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"perfbench-{sid}"
        self.sc.setJobGroup(group, name, False)
        py0 = self._python_s()
        rec["start"] = time.time()
        self.bookkeeping_s += time.perf_counter() - t_enter
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t_exit = time.perf_counter()
            rec["wall_s"] = rec["end"] - rec["start"]
            rec["python_s"] = max(0.0, self._python_s() - py0)
            # jobs of nested spans ran under their own groups; a span's
            # counters are its own jobs plus its children's
            own = _stage_metrics(
                self.sc, list(self.sc.statusTracker().getJobIdsForGroup(group)))
            for kid in (s for s in self.spans if s.get("parent") == sid):
                for k, v in kid["counters"].items():
                    own[k] += v
            rec["counters"] = own
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(f"perfbench-{parent}",
                                    self.spans[parent]["name"], False)
            self.bookkeeping_s += time.perf_counter() - t_exit

    def total(self, prefix: str, key: str) -> float:
        """Sum of ``key`` (a span field or counter) over top-level spans
        of the given name prefix — nested spans are already folded into
        their parents."""
        tot = 0.0
        for s in self.spans:
            if not s["name"].startswith(prefix):
                continue
            if s["parent"] is not None and self.spans[s["parent"]]["name"].startswith(prefix):
                continue
            tot += s["counters"][key] if key in s["counters"] else s.get(key, 0.0)
        return tot
