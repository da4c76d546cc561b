"""Tracing for the benchmark's traced run, recorded from outside kgeng.

- ``Tracer`` keeps spans in memory (name, start, end, parent, thread)
  and tags every Spark job a span submits with a job group named after
  the span, so the event log can be folded per stage or per query.
- ``TracedPipeline`` wraps each ``Pipeline.stage_*`` method in a span.
  The wrapper runs on whichever thread calls the stage, so the
  dictionary side thread's jobs carry their own stage tags.
- ``fold_event_log`` sums ``SparkListenerTaskEnd`` metrics per job
  group from an uncompressed, non-rolling event log.
- The extract probes split the extract stage into scan, Arrow channel
  and pure-Python kernel costs.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict

from kgeng import pipeline as kg_pipeline
from kgeng.pipeline import Pipeline

STAGES = [n for n in dir(Pipeline) if n.startswith("stage_")]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.lineage_s = 0.0
        self._lock = threading.Lock()

    def span(self, name: str, parent: str | None = None):
        return _Span(self, name, parent)

    def add_lineage_time(self, dt: float) -> None:
        with self._lock:
            self.lineage_s += dt


class _Span:
    def __init__(self, tracer: Tracer, name: str, parent: str | None):
        self.tracer, self.name, self.parent = tracer, name, parent

    def __enter__(self):
        self.tracer.sc.setJobGroup(self.name, self.name)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.tracer.sc.setLocalProperty("spark.jobGroup.id", None)
        self.tracer.sc.setLocalProperty("spark.job.description", None)
        self.tracer.spans.append(
            {
                "name": self.name,
                "start": self.start,
                "end": end,
                "parent": self.parent,
                "thread": threading.current_thread().name,
            }
        )
        return False


def traced_pipeline_class(tracer: Tracer, op: str) -> type[Pipeline]:
    """A ``Pipeline`` subclass whose stages record spans named
    ``<op>:<stage>`` (``stage_extract_text`` -> ``extract_text``) and
    whose lineage calls are timed into ``tracer.lineage_s``."""

    def wrap(method_name: str):
        base = getattr(Pipeline, method_name)
        stage = method_name[len("stage_"):]

        def traced(self, *args, **kwargs):
            with tracer.span(f"{op}:{stage}", parent=op):
                return base(self, *args, **kwargs)

        return traced

    class TracedPipeline(Pipeline):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            commit = self.log.commit

            def timed_commit(*a, **kw):
                t0 = time.perf_counter()
                try:
                    return commit(*a, **kw)
                finally:
                    tracer.add_lineage_time(time.perf_counter() - t0)

            self.log.commit = timed_commit

    for name in STAGES:
        setattr(TracedPipeline, name, wrap(name))
    return TracedPipeline


class timed_fingerprints:
    """Context manager timing ``fingerprint_paths`` as the pipeline
    module calls it (the stage runner resolves it as a module global)."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def __enter__(self):
        self.orig = kg_pipeline.fingerprint_paths
        orig, tracer = self.orig, self.tracer

        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                tracer.add_lineage_time(time.perf_counter() - t0)

        kg_pipeline.fingerprint_paths = timed
        return self

    def __exit__(self, *exc):
        kg_pipeline.fingerprint_paths = self.orig
        return False


# -- event log ----------------------------------------------------------

EMPTY_GROUP = {
    "cpu_s": 0.0,
    "gc_s": 0.0,
    "shuffle_write_mb": 0.0,
    "spill_mb": 0.0,
    "peak_exec_mem_mb": 0.0,
    "jobs": 0,
}


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: executor CPU s, GC s, shuffle write MB, spill MB
    (memory + disk), max peak execution memory MB and job count. Jobs
    without a group fold into ``""``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: dict(EMPTY_GROUP))
    mb = 1024 * 1024
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                    groups[group]["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    g = groups[stage_group.get(ev["Stage ID"], "")]
                    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mb
                    g["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / mb
                    g["peak_exec_mem_mb"] = max(
                        g["peak_exec_mem_mb"], m.get("Peak Execution Memory", 0) / mb
                    )
    return dict(groups)


def sum_groups(folded: dict[str, dict], names) -> dict:
    out = dict(EMPTY_GROUP)
    for n in names:
        g = folded.get(n)
        if g is None:
            continue
        for k, v in g.items():
            out[k] = max(out[k], v) if k == "peak_exec_mem_mb" else out[k] + v
    return out


# -- extract-layer probes ----------------------------------------------


def _identity(batches):
    yield from batches


def extract_probes(spark, pages_path: str, kernel_pages: int) -> dict[str, float]:
    """Scan only, Arrow passthrough and pure-Python kernel, each on the
    same repartitioned page set the extract stage reads."""
    import pyarrow.parquet as pq

    from kgeng.extract.text import extract_text_py

    target = spark.sparkContext.defaultParallelism * 12

    def pages():
        return spark.read.parquet(pages_path).repartition(target, "url").select("url", "lang", "html")

    t0 = time.perf_counter()
    pages().write.mode("overwrite").format("noop").save()
    scan_s = time.perf_counter() - t0

    df = pages()
    t0 = time.perf_counter()
    df.mapInPandas(_identity, df.schema).write.mode("overwrite").format("noop").save()
    passthrough_s = time.perf_counter() - t0

    htmls = pq.read_table(pages_path, columns=["html"]).column("html").to_pylist()[:kernel_pages]
    t0 = time.perf_counter()
    for h in htmls:
        extract_text_py(h)
    kernel_s = time.perf_counter() - t0
    return {
        "io.scan_s": scan_s,
        "extract.arrow_passthrough_s": passthrough_s,
        "extract.kernel_pages_per_s": len(htmls) / kernel_s,
    }
