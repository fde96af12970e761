"""Session factory defaults."""

from __future__ import annotations

import os

from transcription_lakehouse_spark import session


def test_cpus_reads_env_else_affinity(monkeypatch):
    """``SPARK_GRAFT_CPUS`` wins when set; otherwise the core count is the
    CPUs this process may run on, never a fixed constant."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert session._cpus() == 7
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert session._cpus() == len(os.sched_getaffinity(0))
