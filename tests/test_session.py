"""Session conf that the engine depends on for its speed."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import codegen_compiles


def _plan(spark, k: int):
    # the literal k is inlined into the generated code, so each k is a
    # distinct set of whole-stage-codegen classes
    return spark.range(64).select((F.col("id") * k + k).alias("v")).agg(F.sum("v"))


def test_codegen_cache_holds_more_than_spark_default(spark):
    # Spark's default cache holds 100 classes; kgeng's warm builds and
    # query passes need hundreds, so an evicted class would be
    # recompiled on every pass
    first = _plan(spark, 1).collect()
    for k in range(2, 152):
        _plan(spark, k).collect()
    before = codegen_compiles(spark)
    assert _plan(spark, 1).collect() == first
    assert codegen_compiles(spark) == before
