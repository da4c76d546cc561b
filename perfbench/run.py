"""kgeng benchmark: a KG-build workload and a query-mix workload at
local[4], driven by one client in a closed loop (one build or one query
at a time, the next sent when the previous one returns).

    python3 perfbench/run.py --workload build_heavy --seed 1 --seconds 5 --trace 0

Workloads (see perfbench/README.md for why each was chosen):
  build_heavy  run_pipeline over gzip-per-cell ~20 KB pages
  read_mix     passes over a fixed query mix on the bundled sf0.001 tables

A run generates its inputs from --seed, starts one Spark session,
warms it up with one untimed operation, then runs whole operations
(builds, or passes over the mix) until --seconds have passed, at least
one, and checks every output. ``--trace 1`` tags every Spark job
with its stage or query, writes an event log and reports the per-layer
metrics instead of the end-to-end ones. ``--tiny`` shrinks every input
for the benchmark's own tests.

The last line of stdout is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
CPUS = 4
# The session's default driver heap (48g) exceeds small hosts; pin it
# so memory figures are comparable between runs.
DRIVER_MEM = "3g"
# Program options the benchmark measures at their defaults.
PROGRAM_ENV = ("KGENG_SHJ_LOCAL_MAP_THRESHOLD", "KGENG_SCHEDULER_MODE", "SPARK_GRAFT_CPUS")
# A run never starts another operation past this many seconds, so it
# exits well inside the 180 s a run may take.
RUN_DEADLINE_S = 140

WORKLOADS = ("build_heavy", "read_mix")

# One query per family plus the graph operators the open perf items
# target (label propagation, k-core, BFS, pagerank).
MIX = [
    "kg_label_propagation",
    "kg_kcore",
    "kg_bfs_levels",
    "kg_pagerank",
    "dedup_minhash_lsh",
    "doc_filter_chain",
    "q_customer_rfm",
    "q_events_sessions",
]
TINY_MIX = ["kg_counts", "doc_quality", "q_pricing_summary"]
# Queries whose CPU seconds and shuffle volume are reported one by one.
HEAVY = ["kg_label_propagation", "kg_kcore", "kg_bfs_levels", "kg_pagerank", "dedup_minhash_lsh"]
QUERY_FAMILIES = ("graph_queries", "textops_queries", "tabular_queries")
# Stage output dirs of one build, as named under its output dir.
OUTPUT_DIRS = (
    "extract_text", "triples", "link_dims", "link", "link_misses",
    "canon_map", "canon", "edges", "nodes", "_lineage",
)

END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_s": ("s", "lower"),
    "op_cpu_s": ("s", "lower"),
}

PER_LAYER: dict[str, tuple[str, str]] = {
    "host.probe_s": ("s", "lower"),
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "trace.op_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "triples_per_s": ("triples/s", "higher"),
    "stored_mb": ("MB", "lower"),
    "pass_s": ("s", "lower"),
    **{f"{f}_s": ("s", "lower") for f in QUERY_FAMILIES},
    "extract.stage_s": ("s", "lower"),
    "extract.cpu_s": ("s", "lower"),
    "extract.shuffle_write_mb": ("MB", "lower"),
    "extract.gc_s": ("s", "lower"),
    "io.scan_s": ("s", "lower"),
    "extract.arrow_passthrough_s": ("s", "lower"),
    "extract.kernel_pages_per_s": ("pages/s", "higher"),
    "triples.stage_s": ("s", "lower"),
    "link.stage_s": ("s", "lower"),
    "link.cpu_s": ("s", "lower"),
    "link.shuffle_mb": ("MB", "lower"),
    "link.hit_ratio": ("ratio", "higher"),
    "canon.stage_s": ("s", "lower"),
    "canon.cpu_s": ("s", "lower"),
    "link.dims_s": ("s", "lower"),
    "canon.map_s": ("s", "lower"),
    "pipeline.dict_side_s": ("s", "lower"),
    "pipeline.dict_side_wait_s": ("s", "lower"),
    "pipeline.unaccounted_s": ("s", "lower"),
    "materialize.s": ("s", "lower"),
    "materialize.cpu_s": ("s", "lower"),
    "materialize.shuffle_mb": ("MB", "lower"),
    "materialize.spill_mb": ("MB", "lower"),
    "materialize.peak_exec_mem_mb": ("MB", "lower"),
    "materialize.jobs": ("count", "lower"),
    "materialize.edge_dedup_ratio": ("ratio", "lower"),
    **{f"io.bytes_written_mb.{d.lstrip('_')}": ("MB", "lower") for d in OUTPUT_DIRS},
    "io.lineage_s": ("s", "lower"),
    "io.resume_s": ("s", "lower"),
    **{f"q.{q}.s": ("s", "lower") for q in MIX},
    **{f"q.{q}.{m}": (u, "lower") for q in HEAVY for m, u in (("cpu_s", "s"), ("shuffle_mb", "MB"))},
    **{
        f"{f}.{m}": (u, "lower")
        for f in QUERY_FAMILIES
        for m, u in (("cpu_s", "s"), ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("jobs", "count"))
    },
}


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def prepare_env() -> None:
    """Put kgeng, the oracle harness and this directory on the path of
    this process and of Spark's Python workers, and keep every file
    the run writes inside the checkout."""
    for need in ("kgeng/pipeline.py", "tests/oracle_harness.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            die(f"{need} not found: run from a kgeng checkout")
    for p in (ROOT, HERE, os.path.join(ROOT, "tests")):
        if p not in sys.path:
            sys.path.insert(0, p)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for k in PROGRAM_ENV:
        os.environ.pop(k, None)
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join([ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(OUT, "spark-local"),
            "KGENG_DRIVER_MEM": DRIVER_MEM,
        }
    )


def start_session(event_log_dir: str | None = None):
    from kgeng.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.sql.warehouse.dir": os.path.join(OUT, "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", cpus=CPUS, extra_conf=conf)


def jvm_peak_rss_mb(spark) -> float:
    """Peak RSS (VmHWM) of the driver JVM, the largest process of the
    run's tree."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of a live process tree (the JVM and the
    Python workers it forks), counting the children each has reaped."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # after the command name: state ppid ... utime(11) stime cutime cstime(14)
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, stack = 0, [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            ticks += procs[pid][1]
            stack.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


HOST_PROBE = "acc = 0\nfor i in range(2_000_000):\n    acc = (acc + i * i) % 1_000_003\n"


def host_probe_s() -> float:
    """A fixed pure-Python loop in one process per core, timed together:
    explains host-window drift in the cores a run can get."""
    t0 = time.perf_counter()
    procs = [subprocess.Popen([sys.executable, "-c", HOST_PROBE]) for _ in range(CPUS)]
    for p in procs:
        p.wait()
    return time.perf_counter() - t0


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Run:
    """Attempts, failures and figures of one benchmark run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.figures: dict[str, float] = {}

    def record(self, errors: list[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            for e in errors:
                print(f"perfbench: FAILED {e}", file=sys.stderr)

    def attempt(self, fn, *args):
        """Run one operation; an exception counts as a failed op."""
        try:
            return fn(*args)
        except Exception:
            traceback.print_exc()
            self.record(["operation raised"])
            return None


def build_inputs(seed: int, tiny: bool) -> dict:
    """The seed's corpus with its golden triples, the warm-up corpus and
    the dictionary. Made before the clock starts and cached in the
    checkout, so input generation is never timed."""
    import builds
    from kgeng import fixtures

    d = os.path.join(OUT, "inputs")
    dic = os.path.join(d, "dictionary.parquet")
    if not os.path.exists(dic):
        fixtures.write_dictionary(dic + ".tmp")
        os.replace(dic + ".tmp", dic)

    def corpus(c, pages: range) -> dict:
        name = f"pages-{pages.start}-{c.pages}-m{c.mult}-f{c.filler_kb}{'-gz' if c.gzip_html else ''}.parquet"
        return {
            "path": builds.write_corpus(os.path.join(d, name), pages, c, workers=CPUS),
            "pages": c.pages,
            "golden": builds.golden_triples(pages, c.mult),
        }

    timed = builds.TINY_CORPUS if tiny else builds.CORPUS
    return {
        "dictionary": dic,
        "timed": corpus(timed, builds.page_range(seed, timed.pages)),
        "warmup": corpus(builds.TINY_CORPUS, builds.page_range(0, builds.TINY_CORPUS.pages)),
    }


def run_builds(spark, run: Run, inputs: dict, seconds: float, work: str, cpu_clock,
               tracer=None, t_start: float = 0.0) -> list[dict]:
    """Warm-up build on the small corpus, timed builds on the seed's
    corpus, then the resume check. Returns the timed builds."""
    import builds
    from kgeng.pipeline import Pipeline

    dic, timed = inputs["dictionary"], inputs["timed"]

    def pipeline_for(op: str):
        if tracer is None:
            return Pipeline
        from tracing import traced_pipeline_class

        return traced_pipeline_class(tracer, op)

    def one(op: str, corpus: dict) -> dict | None:
        out_dir = os.path.join(work, op)
        lineage0 = tracer.lineage_s if tracer else 0.0
        r = run.attempt(builds.build_once, pipeline_for(op), spark, corpus["path"], dic, out_dir,
                        corpus["golden"], cpu_clock)
        if r is None:
            return None
        run.record(r["errors"])
        r["op"] = op
        r["lineage_s"] = (tracer.lineage_s - lineage0) if tracer else 0.0
        r["dir_mb"] = {d: builds.dir_bytes(os.path.join(out_dir, d)) / 2**20 for d in OUTPUT_DIRS}
        if tracer:
            linked, missed = builds.rows(os.path.join(out_dir, "link")), builds.rows(os.path.join(out_dir, "link_misses"))
            r["hit_ratio"] = linked / (linked + missed) if linked + missed else 0.0
            r["edges"] = builds.rows(os.path.join(out_dir, "edges"))
        return r

    warm = one("warmup", inputs["warmup"])
    run.figures["session.warmup_s"] = warm["wall_s"] if warm else 0.0
    run.figures["setup_s"] = time.perf_counter() - t_start
    shutil.rmtree(os.path.join(work, "warmup"), ignore_errors=True)

    ops: list[dict] = []
    last_dir = None
    t0 = time.perf_counter()
    k = 0
    while (k == 0 or time.perf_counter() - t0 < seconds) and time.perf_counter() - t_start < RUN_DEADLINE_S:
        k += 1
        if last_dir:
            shutil.rmtree(last_dir, ignore_errors=True)
        last_dir = os.path.join(work, f"build{k}")
        r = one(f"build{k}", timed)
        if r is not None:
            ops.append(r)

    if last_dir and os.path.isdir(os.path.join(last_dir, "_lineage")):
        res = run.attempt(builds.resume_once, pipeline_for("resume"), spark, timed["path"], dic, last_dir)
        if res is not None:
            run.record(res["errors"])
            run.figures["io.resume_s"] = res["wall_s"]

    f = run.figures
    f["op_s"] = median(r["wall_s"] for r in ops)
    f["op_cpu_s"] = median(r["cpu_s"] for r in ops)
    f["triples_per_s"] = median(r["triples"] / r["wall_s"] for r in ops)
    f["stored_mb"] = median(r["stored_bytes"] / 2**20 for r in ops)
    for d in OUTPUT_DIRS:
        f[f"io.bytes_written_mb.{d.lstrip('_')}"] = median(r["dir_mb"][d] for r in ops)
    if tracer:
        from tracing import extract_probes

        f["io.lineage_s"] = median(r["lineage_s"] for r in ops)
        f["link.hit_ratio"] = median(r["hit_ratio"] for r in ops)
        f["materialize.edge_dedup_ratio"] = median(r["edges"] / r["triples"] for r in ops if r["triples"])
        f.update(extract_probes(spark, timed["path"], kernel_pages=min(timed["pages"], 300)))
    return ops


def run_read_mix(spark, run: Run, seed: int, seconds: float, tiny: bool, cpu_clock,
                 tracer=None, t_start: float = 0.0) -> list[dict]:
    """Warm-up pass that collects every result, timed passes over the
    mix in a seed-rotated order, then the oracle checks of the collected
    results (after the clocks, so DuckDB time is in no metric). Returns
    the timed passes."""
    import readmix

    sf_dir = os.path.join(HERE, "data", "sf0.001")
    order = readmix.rotated(TINY_MIX if tiny else MIX, seed)

    t0 = time.perf_counter()
    collected = run.attempt(readmix.collect_pass, spark, sf_dir, order)
    run.figures["session.warmup_s"] = time.perf_counter() - t0
    run.figures["setup_s"] = time.perf_counter() - t_start

    passes: list[dict] = []
    t0 = time.perf_counter()
    while (not passes or time.perf_counter() - t0 < seconds) and time.perf_counter() - t_start < RUN_DEADLINE_S:
        k = len(passes) + 1
        p = {"op": f"pass{k}", "wall": {}, "cpu": {}}
        for name in order:
            span = tracer.span(f"pass{k}:{name}", parent=f"pass{k}") if tracer else contextlib.nullcontext()
            with span:
                r = run.attempt(readmix.timed_query, spark, sf_dir, name, cpu_clock)
            if r is not None:
                run.record(r[2])
                p["wall"][name], p["cpu"][name] = r[0], r[1]
        passes.append(p)

    if collected is not None:
        checked = run.attempt(readmix.check_results, collected, sf_dir)
        for errors in (checked or {}).values():
            run.record(errors)

    f = run.figures
    full = [p for p in passes if len(p["wall"]) == len(order)]
    f["op_s"] = f["pass_s"] = median(sum(p["wall"].values()) for p in full)
    f["op_cpu_s"] = median(sum(p["cpu"].values()) for p in full)
    for fam in QUERY_FAMILIES:
        f[f"{fam}_s"] = median(sum(v for q, v in p["wall"].items() if readmix.family(q) == fam) for p in full)
    for q in order:
        f[f"q.{q}.s"] = median(p["wall"][q] for p in passes if q in p["wall"])
    return passes


def trace_figures(run: Run, workload: str, ops: list[dict], tracer, folded: dict) -> None:
    """Per-layer figures from spans and the folded event log."""
    import readmix
    from tracing import sum_groups

    f = run.figures
    f["trace.op_s"] = f["op_s"]
    if workload == "build_heavy":
        per_op: list[dict[str, float]] = []
        for r in ops:
            op = r["op"]
            span = {s["name"].split(":", 1)[1]: s for s in tracer.spans if s["parent"] == op}
            d = {k: v["end"] - v["start"] for k, v in span.items()}
            side_end = span["canon_map"]["end"]
            wait = max(0.0, side_end - span["triples"]["end"])
            main = d["extract_text"] + d["triples"] + wait + d["link"] + d["canon"] + d["materialize"]
            g = {st: sum_groups(folded, [f"{op}:{st}"]) for st in ("extract_text", "link", "canon", "materialize")}
            per_op.append(
                {
                    "extract.stage_s": d["extract_text"],
                    "extract.cpu_s": g["extract_text"]["cpu_s"],
                    "extract.shuffle_write_mb": g["extract_text"]["shuffle_write_mb"],
                    "extract.gc_s": g["extract_text"]["gc_s"],
                    "triples.stage_s": d["triples"],
                    "link.stage_s": d["link"],
                    "link.cpu_s": g["link"]["cpu_s"],
                    "link.shuffle_mb": g["link"]["shuffle_write_mb"],
                    "canon.stage_s": d["canon"],
                    "canon.cpu_s": g["canon"]["cpu_s"],
                    "link.dims_s": d["link_dims"],
                    "canon.map_s": d["canon_map"],
                    "pipeline.dict_side_s": side_end - span["link_dims"]["start"],
                    "pipeline.dict_side_wait_s": wait,
                    "pipeline.unaccounted_s": r["wall_s"] - main,
                    "materialize.s": d["materialize"],
                    "materialize.cpu_s": g["materialize"]["cpu_s"],
                    "materialize.shuffle_mb": g["materialize"]["shuffle_write_mb"],
                    "materialize.spill_mb": g["materialize"]["spill_mb"],
                    "materialize.peak_exec_mem_mb": g["materialize"]["peak_exec_mem_mb"],
                    "materialize.jobs": g["materialize"]["jobs"],
                }
            )
        for k in per_op[0] if per_op else ():
            f[k] = median(o[k] for o in per_op)
    else:
        n = len(ops)
        groups = lambda q: [f"{p['op']}:{q}" for p in ops]  # noqa: E731
        order = list(ops[0]["wall"]) if ops else []
        for q in order:
            if q in HEAVY:
                g = sum_groups(folded, groups(q))
                f[f"q.{q}.cpu_s"] = g["cpu_s"] / n
                f[f"q.{q}.shuffle_mb"] = g["shuffle_write_mb"] / n
        for fam in QUERY_FAMILIES:
            g = sum_groups(folded, [x for q in order if readmix.family(q) == fam for x in groups(q)])
            f[f"{fam}.cpu_s"] = g["cpu_s"] / n
            f[f"{fam}.shuffle_mb"] = g["shuffle_write_mb"] / n
            f[f"{fam}.spill_mb"] = g["spill_mb"] / n
            f[f"{fam}.jobs"] = g["jobs"] / n


def untraced_history(workload: str) -> str:
    return os.path.join(OUT, f"untraced-{workload}.jsonl")


def tree_id() -> str:
    """Hash of the program's and the benchmark's Python sources, so the
    traced run compares only with untraced runs of the same code."""
    h = hashlib.sha1()
    for base in ("kgeng", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(ROOT, base)):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(d, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def print_table(workload: str, run: Run, trace: bool) -> None:
    f = run.figures
    print(f"# {workload}: attempted={run.attempted} failed={run.failed}")
    names = list(PER_LAYER) if trace else list(END_TO_END) + [
        n for n in ("triples_per_s", "stored_mb", *(f"{x}_s" for x in QUERY_FAMILIES), "host.probe_s") if n in f
    ]
    for n in names:
        unit = (END_TO_END.get(n) or PER_LAYER[n])[0]
        print(f"{n:40s} {f.get(n, 0.0):14.4f} {unit}")
    if trace and "pipeline.unaccounted_s" in f:
        stages = sum(f[k] for k in ("extract.stage_s", "triples.stage_s", "link.stage_s", "canon.stage_s", "materialize.s"))
        print(
            f"# span accounting (medians): build wall {f['trace.op_s']:.3f} s; main-thread stages "
            f"{stages:.3f} s + dict-side wait {f['pipeline.dict_side_wait_s']:.3f} s; "
            f"unaccounted {f['pipeline.unaccounted_s']:.3f} s"
        )
    if trace:
        tree = tree_id()
        try:
            with open(untraced_history(workload), encoding="utf-8") as fh:
                same = [r["op_s"] for r in map(json.loads, fh) if r.get("tree") == tree]
        except OSError:
            same = []
        if same and median(same) > 0:
            base = median(same)
            print(f"# tracing overhead: traced op_s {f['op_s']:.3f} s vs untraced median {base:.3f} s "
                  f"over {len(same)} runs of this tree ({100 * (f['op_s'] / base - 1):+.1f}%)")
        else:
            print("# tracing overhead: no untraced run of this tree recorded in this checkout yet")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="kgeng benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs for the benchmark's own tests")
    args = ap.parse_args(argv)
    prepare_env()

    run = Run()
    run.figures["host.probe_s"] = host_probe_s()
    work = os.path.join(OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    inputs = build_inputs(args.seed, args.tiny) if args.workload == "build_heavy" else None

    t_start = time.perf_counter()
    spark = start_session(event_log)
    run.figures["session.start_s"] = time.perf_counter() - t_start
    jvm = spark.sparkContext._gateway.proc.pid

    def cpu_clock() -> float:
        return tree_cpu_s(jvm) + time.process_time()

    tracer = None
    lineage_timing = contextlib.nullcontext()
    try:
        if args.trace:
            from tracing import Tracer, timed_fingerprints

            tracer = Tracer(spark)
            lineage_timing = timed_fingerprints(tracer)
        with lineage_timing:
            if args.workload == "build_heavy":
                ops = run_builds(spark, run, inputs, args.seconds, work, cpu_clock, tracer, t_start)
            else:
                ops = run_read_mix(spark, run, args.seed, args.seconds, args.tiny, cpu_clock, tracer, t_start)
        run.figures["peak_rss_mb"] = jvm_peak_rss_mb(spark)
    finally:
        stop_session(spark)
    if tracer:
        from tracing import fold_event_log

        trace_figures(run, args.workload, ops, tracer, fold_event_log(event_log))
    elif not args.tiny:
        with open(untraced_history(args.workload), "a", encoding="utf-8") as fh:
            fh.write(json.dumps({"tree": tree_id(), "seed": args.seed, "op_s": run.figures["op_s"]}) + "\n")
    shutil.rmtree(work, ignore_errors=True)

    print_table(args.workload, run, bool(args.trace))
    spec = PER_LAYER if args.trace else END_TO_END
    metrics = {n: {"value": float(run.figures.get(n, 0.0)), "unit": u} for n, (u, _) in spec.items()}
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": max(run.attempted, 1),
                "failed": run.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
