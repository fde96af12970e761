from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from transcription_lakehouse_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    yield s


@pytest.fixture(autouse=True)
def _pin_session_confs():
    """Re-pin the session confs the plan-shape tests depend on after every
    test: any code under test that calls get_spark() (the CLI commands do)
    hits getOrCreate, which APPLIES the builder's runtime SQL confs to the
    existing session — silently re-enabling AQE (formatted plans then hide
    codegen ids behind AdaptiveSparkPlan) and raising shuffle partitions
    to 32 for every later test."""
    yield
    from pyspark.sql import SparkSession

    # Unconditional: getOrCreate also rewrites spark.app.name in the runtime
    # conf, so guarding on the app name stops re-pinning after the FIRST CLI
    # test and every later plan test sees AQE plans (the exact failure this
    # fixture exists to prevent).
    s = SparkSession.getActiveSession()
    if s is not None:
        s.conf.set("spark.sql.adaptive.enabled", "false")
        s.conf.set("spark.sql.shuffle.partitions", "4")
