from __future__ import annotations

import os
import sys
import uuid
from contextlib import contextmanager
from types import SimpleNamespace

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from kgeng.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("kgeng-tests", cpus=4, shuffle_partitions=4)
    yield s


# generated inputs and outputs of the tests, inside this checkout
FIX_DIR = os.path.join(REPO, ".fixtures")

SF_DIR = os.environ.get("KGENG_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("KGENG_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def codegen_compiles(spark) -> int:
    """JVM-wide count of Janino compilations of generated classes (a
    codegen cache hit does not compile)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@contextmanager
def spark_jobs(spark):
    """Counts the Spark jobs the current thread runs inside the block:
    they run under a fresh job group, read back from ``statusTracker``
    once the listener bus has delivered their events.

        with spark_jobs(spark) as jobs:
            df.collect()
        assert jobs.n == 1
    """
    sc = spark.sparkContext
    group = f"counted-{uuid.uuid4().hex}"
    count = SimpleNamespace(n=0)
    sc.setJobGroup(group, "spark_jobs")
    try:
        yield count
    finally:
        sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        count.n = len(sc.statusTracker().getJobIdsForGroup(group))
