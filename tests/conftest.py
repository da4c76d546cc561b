from __future__ import annotations

import os
import sys
import uuid
from contextlib import contextmanager
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

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


@contextmanager
def py4j_commands(spark):
    """Counts the py4j commands the driver sends to the JVM inside the
    block, leaving out object-release commands (``m``), whose number
    depends on when Python's garbage collector runs.

        with py4j_commands(spark) as cmds:
            df.select("a")
        assert cmds.n <= 10
    """
    from py4j.clientserver import ClientServer, ClientServerConnection
    from py4j.protocol import MEMORY_COMMAND_NAME

    if not isinstance(spark.sparkContext._gateway, ClientServer):
        raise TypeError("py4j_commands counts pinned-thread (ClientServer) gateways only")
    count = SimpleNamespace(n=0)
    send = ClientServerConnection.send_command

    def counting(self, command):
        if not command.startswith(MEMORY_COMMAND_NAME):
            count.n += 1
        return send(self, command)

    ClientServerConnection.send_command = counting
    try:
        yield count
    finally:
        ClientServerConnection.send_command = send


def df_content(df):
    """(row count, order-free xxhash64 sum) of a DataFrame. Maps are
    hashed as their entry arrays; the sum is decimal because an int64
    sum overflows under ANSI."""
    cols = [
        F.map_entries(c) if isinstance(df.schema[c].dataType, MapType) else F.col(c)
        for c in df.columns
    ]
    row = df.select(F.count("*"), F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))).first()
    return tuple(row)
