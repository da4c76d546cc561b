"""Multi-executor-JVM evidence: the engine's code ships to separate
executor processes via the ``--py-files`` zip (``kgeng.package`` +
``spark.submit.pyFiles``), and the extraction contract holds there —
the closest a single host gets to the spark-submit cluster deployment
the north rule requires.

Runs in a SUBPROCESS: a local-cluster master cannot share the
process-wide SparkSession singleton with the suite's local[4] fixture.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import os, sys
sys.path.insert(0, %(repo)r)
from kgeng.session import get_spark
from pyspark.sql import functions as F
import kgeng.fixtures as fx

spark = get_spark("kgeng-lc-test", master="local-cluster[2,2,1536]",
                  shuffle_partitions=4)
assert spark.sparkContext.master.startswith("local-cluster")

p = %(repo)r + "/.fixtures/lc_pages.parquet"
if not os.path.exists(p):
    fx.write_pages(p, 200, mult=2, gzip_html=True)

from kgeng.extract.text import extracted_text
pages = spark.read.parquet(p)
out = pages.select("url", "text", extracted_text(F.col("html")).alias("extracted"))
n = out.count()
bad = out.filter(~F.col("extracted").eqNullSafe(F.col("text"))).count()
print("ROWS:", n, "MISMATCHES:", bad)

from kgeng.queries.corpus import kg_counts
row = kg_counts(spark, "/root/testdata/sf0.001").collect()[0]
print("COUNTS:", row["n_nodes"], row["n_edges"])
spark.stop()
print("LC-OK")
""" % {"repo": REPO}


def test_multi_executor_cluster_end_to_end():
    """The pandas-UDF kernel must run byte-identically in REMOTE
    executor JVMs that only know kgeng through the shipped zip; a
    KG query must answer through the same cluster."""
    r = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "ROWS: 200 MISMATCHES: 0" in r.stdout, r.stdout
    assert "LC-OK" in r.stdout
