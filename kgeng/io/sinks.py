"""Partitioned writers — the Spark twins of the reference's binning /
splitting sinks.

- ``write_partitioned`` ≈ S6 hash-routed multi-file binning
  (``Kuzu/kuzu_build_graph_csv.py:297-387``): dynamic partition write.
- ``maxRecordsPerFile`` ≈ S10 ``sed``-based 6M/500k-row file splits
  (``docs/create_split_*.sh``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


# rows per output file (see the S10 split above)
MAX_RECORDS_PER_FILE = 5_000_000


def write_partitioned(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Overwrite ``path`` with ``df`` as parquet, split by
    ``partition_by`` and at ``MAX_RECORDS_PER_FILE`` rows per file."""
    w = df.write.mode("overwrite").option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
