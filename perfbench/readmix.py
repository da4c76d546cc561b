"""The read_mix workload: passes over a fixed query mix, each query's
result checked against its DuckDB oracle and each query required to
leave no cached data behind."""

from __future__ import annotations

import time

from kgeng.queries.corpus import QUERIES
from kgeng.queries.oracles import ORACLES

FAMILIES = {
    "kg_": "graph_queries",
    "doc_": "textops_queries",
    "dedup_": "textops_queries",
    "ann_": "textops_queries",
    "mm_": "textops_queries",
    "q_": "tabular_queries",
}


def family(name: str) -> str:
    return next(f for p, f in FAMILIES.items() if name.startswith(p))


def rotated(mix: list[str], seed: int) -> list[str]:
    k = seed % len(mix)
    return mix[k:] + mix[:k]


def _persisted(spark) -> list:
    """Persisted RDDs other than local checkpoints. A local checkpoint
    belongs to one plan instance, so the next pass cannot hit it; a
    persisted RDD or cached table can serve the next pass."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
    return [r for r in rdds if not r.rdd().isLocallyCheckpointed()]


def leftover_cache(spark) -> int:
    """Cached tables plus persisted RDDs a query left behind."""
    cached_tables = 0 if spark._jsparkSession.sharedState().cacheManager().isEmpty() else 1
    return cached_tables + len(_persisted(spark))


def release_cache(spark) -> None:
    spark.catalog.clearCache()
    for rdd in _persisted(spark):
        rdd.unpersist(True)


class Collected:
    """A query's collected result, in the shape ``oracle_harness.compare``
    reads (``collect()`` and ``columns``)."""

    def __init__(self, df):
        self.columns = df.columns
        self._rows = df.collect()

    def collect(self) -> list:
        return self._rows


def collect_pass(spark, sf_dir: str, order: list[str], queries=QUERIES) -> dict[str, tuple[Collected, list[str]]]:
    """An untimed pass that collects every result and checks that no
    query left cached data behind. Returns each query's result and
    failures; ``check_results`` compares the results later."""
    out: dict[str, tuple[Collected, list[str]]] = {}
    for name in order:
        res, errors = Collected(queries[name](spark, sf_dir)), []
        if leftover_cache(spark):
            errors.append(f"{name}: left cached data behind")
            release_cache(spark)
        out[name] = (res, errors)
    return out


def check_results(collected: dict[str, tuple[Collected, list[str]]], sf_dir: str) -> dict[str, list[str]]:
    """Each collected result against its DuckDB oracle. Returns each
    query's failures, those found while collecting included."""
    from oracle_harness import compare, duckdb_conn

    con = duckdb_conn(sf_dir)
    out: dict[str, list[str]] = {}
    try:
        for name, (res, errors) in collected.items():
            rep = compare(res, con, ORACLES[name])
            out[name] = list(errors)
            if not (rep["cols_match"] and rep["rows_match"] and rep["values_match"]):
                out[name].append(f"{name}: result differs from its oracle: {rep}")
    finally:
        con.close()
    return out


def timed_query(spark, sf_dir: str, name: str, cpu_clock, queries=QUERIES) -> tuple[float, float, list[str]]:
    """One query to a noop sink: wall s, CPU s and failures. The cache
    check runs after the clocks stop."""
    c0, t0 = cpu_clock(), time.perf_counter()
    queries[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
    wall, cpu = time.perf_counter() - t0, cpu_clock() - c0
    if leftover_cache(spark):
        release_cache(spark)
        return wall, cpu, [f"{name}: left cached data behind"]
    return wall, cpu, []
