"""Driver-side parquet metadata probes (kgeng.io.scanmeta) — no Spark
session needed except for the conf-parsing shim, which is faked."""

from __future__ import annotations

import shutil

from kgeng.io.scanmeta import (
    _max_partition_bytes,
    estimated_scan_splits,
    needs_ingest_spread,
    parquet_rows,
)
from tests.conftest import SF_DIR

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
