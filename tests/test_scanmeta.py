"""Driver-side parquet metadata probes and the cached parquet read
path (kgeng.io.scanmeta). The probes need no Spark session except for
the conf-parsing shim, which is faked."""

from __future__ import annotations

import os
import re
import shutil
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from kgeng.io.scanmeta import (
    _max_partition_bytes,
    estimated_scan_splits,
    needs_ingest_spread,
    parquet_rows,
    read_parquet,
)
from tests.conftest import REPO, SF_DIR, spark_jobs

DOCS = f"{SF_DIR}/documents.parquet"


def test_parquet_rows_matches_footer():
    assert parquet_rows(DOCS) == 500


def test_parquet_rows_sees_a_rewritten_dir(tmp_path):
    # stage outputs are rewritten at the same path between runs; the
    # cached count must not be served for the new files
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path / "stage"

    def write(n: int) -> None:
        shutil.rmtree(out, ignore_errors=True)
        (out / "k=a").mkdir(parents=True)
        pq.write_table(pa.table({"x": list(range(n))}), out / "k=a" / "part-0.parquet")

    write(3)
    assert parquet_rows(str(out)) == 3
    write(5)
    assert parquet_rows(str(out)) == 5


def test_split_estimate_tracks_the_byte_budget():
    # the whole test corpus fits one default split...
    assert estimated_scan_splits(DOCS) == 1
    # ...but a tiny budget forces many splits
    assert estimated_scan_splits(DOCS, max_partition_bytes=1024) > 1


def test_split_estimate_mirrors_sparks_small_table_shrink(tmp_path):
    # Spark shrinks the split size to totalBytes/parallelism (floored
    # at the 4MB open cost) when the table is small relative to the
    # core count — a mid-size file therefore yields ~parallelism
    # splits, NOT ceil(bytes/128MB). 64MB file: 1 split on one core,
    # ~8 on eight (8.5MB effective splits).
    f = tmp_path / "big.parquet"
    with open(f, "wb") as fh:
        fh.truncate(64 * 1024 * 1024)
    assert estimated_scan_splits(str(f), parallelism=1) == 1
    assert estimated_scan_splits(str(f), parallelism=8) == 8


class _FakeConf:
    def __init__(self, value):
        self._v = value

    def get(self, key, default=None):
        return self._v if self._v is not None else default


class _FakeSpark:
    def __init__(self, value):
        self.conf = _FakeConf(value)


def test_max_partition_bytes_parses_spark_forms():
    # Spark returns the default with a unit suffix
    assert _max_partition_bytes(_FakeSpark("134217728b")) == 128 * 1024**2
    # user-set forms, one- and two-letter suffixes alike
    assert _max_partition_bytes(_FakeSpark("128m")) == 128 * 1024**2
    assert _max_partition_bytes(_FakeSpark("512mb")) == 512 * 1024**2
    assert _max_partition_bytes(_FakeSpark("1g")) == 1024**3
    assert _max_partition_bytes(_FakeSpark("1gb")) == 1024**3
    assert _max_partition_bytes(_FakeSpark("4096")) == 4096
    # unreadable conf falls back to the default, never raises
    assert _max_partition_bytes(_FakeSpark("not-a-size")) == 128 * 1024**2


def test_needs_ingest_spread_uses_session_budget(spark):
    # the single-split test corpus always needs spreading on a
    # multi-core session
    assert needs_ingest_spread(spark, DOCS) is True


def test_warm_read_parquet_runs_no_job(spark):
    path = f"{SF_DIR}/lineitem.parquet"
    with spark_jobs(spark) as plain:
        expected = spark.read.parquet(path).schema
    # a schema-less read infers the schema with a Spark job every time
    assert plain.n == 1
    read_parquet(spark, path)
    with spark_jobs(spark) as warm:
        df = read_parquet(spark, path)
    assert warm.n == 0
    assert df.schema == expected


def test_read_parquet_sees_a_rewritten_path(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(5).write.mode("overwrite").parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    spark.range(5).withColumn("extra", F.col("id") * 2).write.mode("overwrite").parquet(path)
    df = read_parquet(spark, path)
    assert df.columns == ["id", "extra"]
    assert sorted(r.extra for r in df.collect()) == [0, 2, 4, 6, 8]


def _row_hash_sum(df):
    return df.select(
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
    ).first()[0]


def test_read_parquet_of_a_partitioned_dir_matches_spark(spark, tmp_path):
    path = str(tmp_path / "parts")
    (
        spark.range(200)
        .withColumn("k", (F.col("id") % 3).cast("int"))
        .withColumn("s", F.concat(F.lit("v"), F.col("id").cast("string")))
        .write.partitionBy("k")
        .parquet(path)
    )
    read_parquet(spark, path)
    with spark_jobs(spark) as warm:
        cached = read_parquet(spark, path)
    assert warm.n == 0
    plain = spark.read.parquet(path)
    # the partition column is last and typed as Spark infers it
    assert cached.schema == plain.schema
    assert cached.columns == ["id", "s", "k"]
    assert _row_hash_sum(cached) == _row_hash_sum(plain)


def test_read_parquet_caches_per_session(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(5).write.parquet(path)
    read_parquet(spark, path)
    other = spark.newSession()
    with spark_jobs(other) as first:
        read_parquet(other, path)
    with spark_jobs(other) as second:
        read_parquet(other, path)
    assert (first.n, second.n) == (1, 0)


def test_read_parquet_of_a_missing_path_fails_as_spark_does(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_parquet(spark, str(tmp_path / "missing"))

def test_warm_kg_view_construction_runs_no_job(spark):
    from kgeng.graph.kgview import kg_edges, kg_nodes

    kg_edges(spark, SF_DIR)
    kg_nodes(spark, SF_DIR)
    with spark_jobs(spark) as warm:
        kg_edges(spark, SF_DIR)
        kg_nodes(spark, SF_DIR)
    assert warm.n == 0


def test_every_kgeng_parquet_read_goes_through_scanmeta():
    pkg = os.path.join(REPO, "kgeng")
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == os.path.join(pkg, "io", "scanmeta.py"):
                continue
            with open(path) as fh:
                for i, line in enumerate(fh, 1):
                    if re.search(r"\.read\.parquet\(", line):
                        offenders.append(f"{os.path.relpath(path, REPO)}:{i}")
    assert offenders == []



class _FakeInferSpark:
    """Infers each path's schema as the path itself, with no JVM."""

    def __init__(self):
        self._jsparkSession = self
        self.read = self

    def sessionUUID(self):
        return "fake-session"

    def parquet(self, path):
        return SimpleNamespace(schema=path)


def test_schema_cache_under_concurrent_readers(tmp_path, monkeypatch):
    # the pipeline reads from a side thread too: concurrent hits, misses
    # and evictions must neither raise nor serve another path's schema
    import sys
    import threading

    from kgeng.io import scanmeta

    monkeypatch.setattr(scanmeta, "_SCHEMA_CACHE_SIZE", 2)
    paths = []
    for i in range(3):
        p = tmp_path / f"t{i}.parquet"
        p.write_bytes(b"x" * i)
        paths.append(str(p))
    fake = _FakeInferSpark()
    errors = []

    def reader(k: int) -> None:
        try:
            for j in range(30000):
                path = paths[(k + j) % 3]
                if scanmeta.parquet_schema(fake, path) != path:
                    errors.append(path)
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(repr(e))

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(scanmeta._schemas) <= 2
