"""Benchmark entry point.

    python3 perfbench/run.py --workload lake_build --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run starts a fresh Spark application
on ``local[nproc]``, generates its inputs from ``--seed`` under a private
temporary directory (``.perfbench_tmp/`` in the working directory, removed
at exit), runs one workload (``lake_build`` or ``query_suite``), checks
every output, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` metrics of
``BENCHMARK.json``; with ``--trace 1`` a traced run reports the
``per_layer`` metrics instead (``perfbench/spec.json`` maps each to the
end-to-end metric and workload it should move). The line before it is a
JSON record of the run: host context, workload detail, failures and, for
a traced run, its spans.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("lake_build", "query_suite")
DRIVER_MEMORY = "2g"


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants: the
    JVM's resident set plus the proportional set size of every Python
    process (the workers share pages forked from one daemon, which PSS
    counts once). Short-lived forks of the JVM are skipped. ``parts``
    keeps the peak of each kind of process for the record."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period, self.peak_mb = period, 0.0
        self.parts: dict[str, float] = {}
        self._halt = threading.Event()
        self._page_mb = os.sysconf("SC_PAGE_SIZE") / 2**20

    def _mb(self, pid: int, kind: str) -> float:
        if kind == "jvm":  # statm is cheap; smaps would stall the JVM
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * self._page_mb
        with open(f"/proc/{pid}/smaps_rollup") as f:
            return next(int(line.split()[1]) for line in f
                        if line.startswith("Pss:")) / 1024

    def _sample(self) -> None:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        me, by_kind, todo = os.getpid(), {}, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, ()))
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
                kind = ("driver" if pid == me else "jvm" if comm == "java"
                        else "python_workers" if comm.startswith("python")
                        else None)
                if kind is None:
                    continue
                mb = self._mb(pid, kind)
            except (OSError, IndexError, ValueError, StopIteration):
                continue
            # a JVM fork (a shell-out) shows the parent's pages until exec
            by_kind[kind] = (max(by_kind.get(kind, 0.0), mb) if kind == "jvm"
                             else by_kind.get(kind, 0.0) + mb)
        for k, v in by_kind.items():
            self.parts[k] = max(self.parts.get(k, 0.0), v)
        self.peak_mb = max(self.peak_mb, sum(by_kind.values()))

    def run(self):
        while not self._halt.is_set():
            self._sample()
            self._halt.wait(self.period)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_mb


@dataclass
class Ctx:
    """What a workload gets: the session, its temporary directory, the run
    parameters, and the operation ledger that feeds ``attempted``,
    ``failed`` and ``correct``."""

    spark: object
    tracer: object
    tmp: str
    seed: int
    seconds: float
    scale: float
    session_s: float
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.append({"op": what, "problems": problems[:3]})


def host_context(root: str) -> dict:
    import pyspark

    try:  # only a repository rooted here names this checkout's revision
        top, _, rev = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=root,
            text=True, capture_output=True, timeout=10).stdout.partition("\n")
        rev = rev.strip() if os.path.realpath(top) == os.path.realpath(root) else ""
    except (OSError, subprocess.SubprocessError):
        rev = ""
    h = hashlib.sha256()
    pkg = os.path.join(root, "transcription_lakehouse_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return {"nproc": _nproc(), "pyspark": pyspark.__version__,
            "git_rev": rev or None, "source_sha256": h.hexdigest()[:16],
            "python": sys.version.split()[0]}


def _start_spark(tmp: str, trace: bool):
    from transcription_lakehouse_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if trace:
        from spans import PROFILER_CONF
        conf.update(PROFILER_CONF)
    return get_spark(app_name="perfbench", extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop the application and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the self-test uses 0.05)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = bench["per_layer" if args.trace else "end_to_end"]

    # hermetic environment, before the engine is imported: the session
    # factory reads SPARK_GRAFT_CPUS at import time (default 32), and the
    # Python workers must import the engine from this checkout
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    # a fixed driver heap (session.py defaults to 8g) keeps the JVM's
    # share of peak memory reproducible and the run small on a shared host
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [root, HERE]
    tmp = os.path.join(root, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp

    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    rss = RssSampler()
    rss.start()
    load_before = os.getloadavg()[0]
    spark = None
    try:
        ctx_host = host_context(root)
        t0 = time.perf_counter()
        spark = _start_spark(tmp, bool(args.trace))
        session_s = time.perf_counter() - t0
        from spans import NullTracer, Tracer

        ctx = Ctx(spark=spark, tracer=Tracer(spark) if args.trace else NullTracer(),
                  tmp=tmp, seed=args.seed, seconds=args.seconds,
                  scale=args.scale, session_s=session_s)
        if args.workload == "lake_build":
            import lake_build as wl
        else:
            import query_suite as wl
        metrics, detail = wl.run(ctx)
        metrics["session.start_s"] = session_s
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(tmp))
            except OSError:
                pass  # another run still owns a sibling directory
    metrics["peak_rss_mb"] = rss.stop()

    if args.trace:
        # a layer the workload never calls did no work in this run
        with open(os.path.join(HERE, "spec.json")) as f:
            owner = {k: v["workload"] for k, v in json.load(f)["per_layer"].items()}
        for name, wl_name in owner.items():
            if wl_name not in ("all", args.workload):
                metrics.setdefault(name, 0.0)
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if missing:
        raise SystemExit(f"workload produced no value for {missing}")
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "host": {**ctx_host, "load1_before": load_before,
                 "load1_after": os.getloadavg()[0]},
        "fail_frac": ctx.failed / max(1, ctx.attempted),
        "peak_rss_parts_mb": rss.parts,
        "problems": ctx.problems,
        "detail": detail,
    }
    if args.trace:
        record["spans"] = ctx.tracer.spans
    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]),
                                "unit": m["unit"]} for m in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
