"""Self-checks of the benchmark on tiny inputs (about two minutes):

    python3 -m pytest perfbench -q -p no:cacheprovider

They check the metric names against BENCHMARK.json, run each workload
once end to end, and show that each correctness gate counts a
deliberately broken operation as failed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def test_names_match_benchmark_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    for key, table in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        assert {m["name"]: (m["unit"], m["better"]) for m in spec[key]} == table
    assert len(run.PER_LAYER) <= 128


@pytest.mark.parametrize("workload,trace", [("build_heavy", 1), ("read_mix", 0)])
def test_tiny_run_prints_every_metric(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--tiny"]
    proc = subprocess.run(cmd, cwd=run.ROOT, capture_output=True, text=True, timeout=170)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, proc.stderr[-3000:]
    table = run.PER_LAYER if trace else run.END_TO_END
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {n: u for n, (u, _) in table.items()}
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


# -- the correctness gates, on one shared session ----------------------


@pytest.fixture(scope="module")
def spark():
    run.prepare_env()
    s = run.start_session()
    yield s
    run.stop_session(s)


@pytest.fixture(scope="module")
def corpus(spark):
    import builds
    from kgeng import fixtures

    pages = builds.page_range(7, builds.TINY_CORPUS.pages)
    inputs = os.path.join(run.OUT, "test-inputs")
    path = builds.write_corpus(os.path.join(inputs, f"pages-{builds.TINY_CORPUS.pages}.parquet"), pages, builds.TINY_CORPUS)
    dic = os.path.join(inputs, "dictionary.parquet")
    if not os.path.exists(dic):
        fixtures.write_dictionary(dic)
    return path, dic, builds.golden_triples(pages, builds.TINY_CORPUS.mult)


@pytest.fixture
def work(request):
    path = os.path.join(run.OUT, "test-work", request.node.name)
    shutil.rmtree(path, ignore_errors=True)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _clock():
    return 0.0


def test_build_gates_pass_then_resume_skips(spark, corpus, work):
    import builds
    from kgeng.pipeline import Pipeline

    pages, dic, golden = corpus
    out = os.path.join(work, "build")
    r = builds.build_once(Pipeline, spark, pages, dic, out, golden, _clock)
    assert r["errors"] == [] and r["triples"] > 0
    assert builds.resume_once(Pipeline, spark, pages, dic, out)["errors"] == []
    # a golden set the build cannot match fails the P/R gate
    assert any("P=" in e for e in builds.check_build(r["result"], {("X", "y", "Z")}))


def test_skipped_stage_counts_as_failed(spark, corpus, work):
    import builds
    from kgeng.pipeline import Pipeline

    class PrebuiltExtract(Pipeline):
        """Commits the extract stage before the build starts, so the
        build's own extract is a lineage skip."""

        def run(self):
            self.stage_extract_text()
            return super().run()

    pages, dic, golden = corpus
    r = builds.build_once(PrebuiltExtract, spark, pages, dic, os.path.join(work, "build"), golden, _clock)
    assert any("skipped" in e for e in r["errors"])


def test_cached_or_wrong_query_counts_as_failed(spark):
    import readmix
    from kgeng.queries.corpus import QUERIES

    sf = os.path.join(HERE, "data", "sf0.001")
    broken = {
        "kg_counts": lambda s, d: QUERIES["kg_counts"](s, d).cache(),
        "q_pricing_summary": lambda s, d: QUERIES["q_pricing_summary"](s, d).limit(1),
    }
    _, _, errors = readmix.timed_query(spark, sf, "kg_counts", _clock, queries=broken)
    assert errors and readmix.leftover_cache(spark) == 0
    names = ["kg_counts", "q_pricing_summary"]
    checked = readmix.check_results(readmix.collect_pass(spark, sf, names, queries=broken), sf)
    assert "cached" in " ".join(checked["kg_counts"])
    assert "oracle" in " ".join(checked["q_pricing_summary"])
    assert readmix.check_results(readmix.collect_pass(spark, sf, names), sf) == {
        "kg_counts": [], "q_pricing_summary": []
    }
