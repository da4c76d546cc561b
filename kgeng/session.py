"""SparkSession factory tuned for the KG-construction workload.

Local-mode testing runs on ``local[N]``; the same configuration is
what we would submit to a real cluster (AQE, skew-join handling,
Arrow-batched UDF transfer). Shuffle partitions default to the core
count so tiny local runs aren't over-parallelized; on a 1000-executor
cluster the submitter overrides ``spark.sql.shuffle.partitions`` (and
AQE coalesces at runtime anyway).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "kgeng",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard conf.

    AQE is on (runtime coalescing + skew-join splitting), Arrow is on
    (every pandas UDF crosses the JVM/Python boundary in columnar
    batches), and the session timezone is pinned to UTC so results are
    comparable with the DuckDB oracle.

    ``master`` defaults to ``local[cpus]``; pass e.g.
    ``local-cluster[2,2,1536]`` for a multi-executor-JVM run — the
    kgeng zip (built on demand) ships to executors via
    ``spark.submit.pyFiles``, same as a real ``spark-submit
    --py-files`` deployment.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE rewrite sort-merge joins to shuffled-hash at runtime
        # when EVERY post-shuffle partition of the build side is under
        # the threshold (guide §3.1's off-by-default knob): the build
        # memory bound is per-partition bytes measured at runtime, so
        # the rewrite is evidence-based and scale-independent — a
        # partition over the bound keeps the spilling sort-merge.
        # Threshold matches the broadcast threshold / advisory
        # partition size. Measured on the 12 join-heavy suite queries
        # (same-session alternating A/B, min-of-3, sf0.1/local[32]):
        # 55.1 -> 40.9 s total, every query <= its sort-merge time
        # (LPA 13.0->7.0, minhash 7.5->5.4, pagerank 9.7->7.4).
        # Compile-time preferSortMergeJoin=false was REJECTED: without
        # runtime sizes it picks oversized build sides (LPA 19.3 s,
        # and an OOM risk at scale).
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        # FAIR job scheduling: the pipeline overlaps dictionary-side
        # prep with extraction from a second driver thread (guide-§2.6
        # style latency hiding). Under FIFO the side thread's tiny dim
        # jobs queue behind every extraction wave and the side thread
        # GATES the leg (measured: link_dims wall 54.3 -> 28.3 s at
        # local[4], side thread fully hidden under FAIR). Sequential
        # single-job phases (the query suite) see no difference.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2k-row Arrow batches: bounded per-worker buffering for fat
        # binary columns (html), steadier flow control at high task
        # concurrency
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        # Spark 4.1's unix-domain-socket python workers stall under
        # high local task concurrency (measured: 32-thread pandas-UDF
        # stage 72s -> 3s with TCP loopback); keep classic sockets
        .config("spark.python.unix.domain.socket.enabled", "false")
        # pyspark.daemon with a stat-keyed zipimport refresh: each task
        # otherwise re-reads the central directories of the archives on
        # the worker path 16 times, ~0.22 CPU-s before its first row
        # (see kgeng/pyworker.py)
        .config("spark.python.daemon.module", "kgeng.pyworker")
        # Whole-stage-codegen class cache (JVM-wide LRU, static conf).
        # Spark's default of 100 entries is below kgeng's working set:
        # one 40k-page build generates ~195 distinct classes, one
        # 8-query read_mix pass ~375, the 75-query surface ~1,400. At
        # 100 nothing survives to the next pass, so every warm build or
        # query re-runs Janino on every class and then re-JITs it.
        # Measured at local[4], compiles per warm operation: build 195
        # -> 0, read_mix pass ~396 -> 0-17, 75-query pass 1,646 -> 45;
        # metaspace no higher (evicted classes were never unloaded)
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.driver.memory", os.environ.get("KGENG_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Python workers start as ``python -m kgeng.pyworker`` before any
    # task ships code, so kgeng must be on the executors' own path: the
    # checkout in local mode (whatever the driver's cwd), the zip that
    # also ships via pyFiles for multi-executor masters
    from kgeng.package import REPO, build_zip

    kgeng_path = REPO
    if master.startswith("local-cluster"):
        kgeng_path = build_zip()
        builder = builder.config("spark.submit.pyFiles", kgeng_path)
    builder = builder.config("spark.executorEnv.PYTHONPATH", kgeng_path)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
