"""End-to-end pipeline: triple P/R vs the closed-form golden set
(target >= 0.95, BASELINE.json), linking ambiguity resolution, and
snapshot/lineage resume without recomputation."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from kgeng import fixtures
from kgeng.link.candidates import link_map
from kgeng.pipeline import run_pipeline
from tests.conftest import FIX_DIR, codegen_compiles, df_content, spark_jobs

N_PAGES = 1000


@pytest.fixture(scope="module")
def inputs():
    pages = os.path.join(FIX_DIR, "pages_pipeline.parquet")
    dic = os.path.join(FIX_DIR, "dictionary.parquet")
    fixtures.write_pages(pages, N_PAGES)
    fixtures.write_dictionary(dic)
    return pages, dic


@pytest.fixture(scope="module")
def pipeline_out(spark, inputs):
    pages, dic = inputs
    out = os.path.join(FIX_DIR, "kg_out")
    shutil.rmtree(out, ignore_errors=True)
    result = run_pipeline(spark, pages, dic, out)
    return result


def test_triple_precision_recall(spark, pipeline_out):
    got = {
        (r["subject"], r["predicate"], r["object"])
        for r in spark.read.parquet(pipeline_out["triples"])
        .select("subject", "predicate", "object")
        .distinct()
        .collect()
    }
    expected = fixtures.expected_triples(N_PAGES)
    tp = len(got & expected)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(expected) if expected else 0.0
    assert precision >= 0.95, (precision, len(got), len(expected))
    assert recall >= 0.95, (recall, len(got), len(expected))


def test_link_triples_miss_side_channel_survives_prefilter(spark, inputs):
    # the r7 alias semi-join prefilter bounds the surface shuffle by
    # the dictionary size; a surface matching NO alias must still reach
    # the unlinked side-channel untouched, and normalization (case /
    # whitespace) must still apply before the semi-join key compare
    from kgeng.link.candidates import link_triples

    _pages, dic = inputs
    dictionary = spark.read.parquet(dic)
    alias0 = fixtures.entity_name(0)
    triples = spark.createDataFrame(
        [
            ("u1", 0, f"  {alias0.upper()} ", "rel", fixtures.entity_name(5)),
            ("u2", 1, alias0, "rel", "no such entity anywhere"),
        ],
        "url: string, sentence_idx: int, subject_surface: string, "
        "predicate: string, object_surface: string",
    )
    linked, unlinked = link_triples(triples, link_map(dictionary))
    got_linked = {(r["url"], r["subject_curie"], r["object_curie"]) for r in linked.collect()}
    got_miss = {(r["url"], r["object_surface"]) for r in unlinked.collect()}
    assert got_linked == {("u1", fixtures.entity_curie(0), fixtures.entity_curie(5))}
    assert got_miss == {("u2", "no such entity anywhere")}


def test_ambiguous_surface_links_to_label_owner(spark, inputs):
    _pages, dic = inputs
    dictionary = spark.read.parquet(dic)
    surfaces = [fixtures.entity_name(0).lower(), fixtures.entity_name(5).lower()]
    lmap = link_map(dictionary).filter(F.col("surface_norm").isin(surfaces))
    got = {r["surface_norm"]: r["curie"] for r in lmap.collect()}
    # entity 200 claims entity 0's name as an alias; exact-label bonus
    # + tf-idf must pick entity 0
    assert got[fixtures.entity_name(0).lower()] == fixtures.entity_curie(0)
    assert got[fixtures.entity_name(5).lower()] == fixtures.entity_curie(5)


def test_materialized_graph_shape(spark, pipeline_out):
    nodes = spark.read.parquet(pipeline_out["nodes"])
    edges = spark.read.parquet(pipeline_out["edges"])
    assert set(nodes.columns) >= {"id", "name", "category", "equivalent_identifiers", "properties", "node_class"}
    assert set(edges.columns) >= {"id", "subject", "predicate", "object", "publications", "properties"}
    # id uniqueness (PRIMARY KEY analogue)
    assert nodes.groupBy("id").count().filter("count > 1").count() == 0
    assert edges.groupBy("id").count().filter("count > 1").count() == 0
    # O1 invariant on materialized nodes: head = highest-priority present
    from kgeng.graph.build import ORDERED_CATEGORIES

    for r in nodes.select("category").collect():
        cats = r["category"]
        present = [c for c in ORDERED_CATEGORIES if c in cats]
        if present:
            assert cats[0] == present[0]
    # duplicate entities merged: no merged member appears as an id
    merged_away = {
        fixtures.entity_curie(k)
        for k in range(fixtures.N_ENTITIES)
        if fixtures.canonical_of(k) != k
    }
    ids = {r["id"] for r in nodes.select("id").collect()}
    assert not (ids & merged_away)
    # every edge endpoint resolves to a node (referential integrity)
    missing = (
        edges.select(F.col("subject").alias("id"))
        .unionByName(edges.select(F.col("object").alias("id")))
        .distinct()
        .join(nodes.select("id"), "id", "left_anti")
        .count()
    )
    assert missing == 0


def test_resume_skips_committed_stages(spark, inputs, pipeline_out):
    pages, dic = inputs
    out = os.path.join(FIX_DIR, "kg_out")
    # second run over identical inputs: every stage must be skipped
    result2 = run_pipeline(spark, pages, dic, out)
    assert all(m["skipped"] for m in result2["metrics"].values()), result2["metrics"]
    # and the outputs are still readable with identical counts
    assert spark.read.parquet(result2["edges"]).count() == spark.read.parquet(
        pipeline_out["edges"]
    ).count()


def test_second_build_compiles_no_generated_code(spark, inputs, pipeline_out):
    # a warm build reuses every generated class of the first one: the
    # codegen cache must hold the build's whole working set
    pages, dic = inputs
    out = os.path.join(FIX_DIR, "kg_out_again")
    shutil.rmtree(out, ignore_errors=True)
    before = codegen_compiles(spark)
    result = run_pipeline(spark, pages, dic, out)
    assert not any(m["skipped"] for m in result["metrics"].values())
    assert codegen_compiles(spark) - before == 0


def test_resume_recomputes_on_input_change(spark, inputs):
    pages, dic = inputs
    out = os.path.join(FIX_DIR, "kg_out_changed")
    shutil.rmtree(out, ignore_errors=True)
    smaller = os.path.join(FIX_DIR, "pages_smaller.parquet")
    fixtures.write_pages(smaller, 200)
    r1 = run_pipeline(spark, smaller, dic, out)
    assert not any(m["skipped"] for m in r1["metrics"].values())
    # regenerate with different content -> new fingerprint -> recompute
    fixtures.write_pages(smaller, 300)
    r2 = run_pipeline(spark, smaller, dic, out)
    assert not r2["metrics"]["extract_text"]["skipped"]


def test_resume_rebuilds_what_another_input_overwrote(spark, inputs):
    """Build corpus A, then B, then A again into one dir. B rewrote
    every corpus-side output, so the third run must redo those stages
    (the dictionary-side ones still hold what they committed) and end
    with A's KG, not serve B's."""
    _pages, dic = inputs
    pages_a = os.path.join(FIX_DIR, "pages_a.parquet")
    pages_b = os.path.join(FIX_DIR, "pages_b.parquet")
    fixtures.write_pages(pages_a, 150)
    fixtures.write_pages(pages_b, 100)
    out = os.path.join(FIX_DIR, "kg_out_shared")
    shutil.rmtree(out, ignore_errors=True)
    run_pipeline(spark, pages_a, dic, out)
    fresh_a = _content(spark, f"{out}/edges")
    run_pipeline(spark, pages_b, dic, out)
    assert _content(spark, f"{out}/edges") != fresh_a
    result = run_pipeline(spark, pages_a, dic, out)
    ran = sorted(k for k, v in result["metrics"].items() if not v["skipped"])
    assert ran == ["canon", "extract_text", "link", "materialize", "triples"]
    assert _content(spark, f"{out}/edges") == fresh_a


def test_lineage_commit_matches_only_its_own_outputs(tmp_path):
    from kgeng.io.lineage import LineageLog

    table = tmp_path / "table"
    table.mkdir()
    (table / "part-0.parquet").write_bytes(b"a")
    log = LineageLog(str(tmp_path))
    log.commit("stage", "fp", 1, outputs=[str(table)])
    assert log.committed("stage", "fp", [str(table)])["row_count"] == 1
    (table / "part-0.parquet").write_bytes(b"bb")
    assert log.committed("stage", "fp", [str(table)]) is None
    # a commit written without an output fingerprint runs once more
    with open(log._path("stage", "old"), "w", encoding="utf-8") as fh:
        json.dump({"stage": "stage", "input_fingerprint": "old", "metrics": {}}, fh)
    assert log.committed("stage", "old", [str(table)]) is None


def _content(spark, path):
    """(row count, order-free xxhash64 sum) of a parquet dir."""
    return df_content(spark.read.parquet(path))


def test_materialize_crash_reruns_only_that_stage(spark, inputs, pipeline_out, monkeypatch):
    """A crash between the edges write and the nodes write leaves
    materialize uncommitted; the re-run redoes the whole stage (edges
    too) and skips every other stage. In place: fingerprints include
    the input paths, so a copied build would not resume."""
    from kgeng.io.lineage import fingerprint_paths
    from kgeng.pipeline import Pipeline

    pages, dic = inputs
    out = os.path.join(FIX_DIR, "kg_out")
    before = {t: _content(spark, f"{out}/{t}") for t in ("edges", "nodes")}
    edges_fp = fingerprint_paths(f"{out}/edges")
    fp = fingerprint_paths(f"{out}/canon", dic, extra="materialize")
    os.remove(Pipeline(spark, pages, dic, out).log._path("materialize", fp))
    shutil.rmtree(f"{out}/nodes")

    def crash(self, *args):
        raise RuntimeError("injected crash after the edges write")

    with monkeypatch.context() as m:
        m.setattr(Pipeline, "_build_nodes", crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            run_pipeline(spark, pages, dic, out)
    assert fingerprint_paths(f"{out}/edges") != edges_fp  # edges were rewritten
    assert not os.path.exists(f"{out}/nodes")

    result = run_pipeline(spark, pages, dic, out)
    ran = sorted(k for k, v in result["metrics"].items() if not v["skipped"])
    assert ran == ["materialize"]
    assert {t: _content(spark, f"{out}/{t}") for t in ("edges", "nodes")} == before


def test_one_lineage_commit_per_stage(pipeline_out):
    lineage = os.path.join(FIX_DIR, "kg_out", "_lineage")
    stages = []
    for f in os.listdir(lineage):
        with open(os.path.join(lineage, f), encoding="utf-8") as fh:
            stages.append(json.load(fh)["stage"])
    assert sorted(stages) == sorted(pipeline_out["metrics"])


def test_link_map_content_on_fixture_dictionary(spark, inputs):
    _pages, dic = inputs
    assert df_content(link_map(spark.read.parquet(dic))) == (800, -128164811320867431930)


def test_link_dims_writes_only_link_map_in_13_jobs(spark, inputs):
    """A warm link_dims stage builds the winner map in one plan and
    writes it as its only table: no intermediate tables written and
    read back."""
    from kgeng.pipeline import Pipeline

    pages, dic = inputs
    for name in ("kg_link_dims_warm", "kg_link_dims"):
        out = os.path.join(FIX_DIR, name)
        shutil.rmtree(out, ignore_errors=True)
        with spark_jobs(spark) as jobs:
            dims_path = Pipeline(spark, pages, dic, out).stage_link_dims()
    assert jobs.n <= 13, jobs.n
    assert os.listdir(dims_path) == ["link_map"]


# stage -> (first path it writes, stages committed when it crashes in a
# fresh build: the main thread stops at the crash, and the side thread
# — link_dims then canon_map — always runs to its end or its own crash)
CRASH_STAGES = {
    "extract_text": ("extract_text", {"link_dims", "canon_map"}),
    "triples": ("triples", {"extract_text", "link_dims", "canon_map"}),
    "link_dims": ("link_dims/link_map", {"extract_text", "triples"}),
    "canon_map": ("canon_map", {"extract_text", "triples", "link_dims"}),
    "link": ("link_misses", {"extract_text", "triples", "link_dims", "canon_map"}),
    "canon": ("canon", {"extract_text", "triples", "link_dims", "canon_map", "link"}),
    "materialize": ("edges", {"extract_text", "triples", "link_dims", "canon_map", "link", "canon"}),
}


@pytest.fixture(scope="module")
def crash_reference(spark, inputs):
    """One 150-page corpus and its uninterrupted build's edges/nodes."""
    _pages, dic = inputs
    pages = os.path.join(FIX_DIR, "pages_crash.parquet")
    fixtures.write_pages(pages, 150)
    out = os.path.join(FIX_DIR, "kg_crash_reference")
    shutil.rmtree(out, ignore_errors=True)
    run_pipeline(spark, pages, dic, out)
    return pages, {t: _content(spark, f"{out}/{t}") for t in ("edges", "nodes")}


@pytest.mark.parametrize("point", ["before_write", "before_commit"])
@pytest.mark.parametrize("stage", list(CRASH_STAGES))
def test_crash_then_resume_matches_uninterrupted_build(
    spark, inputs, crash_reference, monkeypatch, stage, point
):
    """A fresh build crashes in ``stage``, either before its first
    write or after its writes but before its commit. The crash
    surfaces as the injected error (a side-thread crash too), leaves
    ``stage`` uncommitted and lets the side thread finish; a clean
    re-run redoes exactly the uncommitted stages and ends with the
    uninterrupted build's edges and nodes."""
    import kgeng.pipeline
    from kgeng.io.lineage import LineageLog

    _pages, dic = inputs
    pages, reference = crash_reference
    out = os.path.join(FIX_DIR, f"kg_crash_{stage}_{point}")
    shutil.rmtree(out, ignore_errors=True)
    first_write, committed = CRASH_STAGES[stage]

    with monkeypatch.context() as m:
        if point == "before_write":
            write = kgeng.pipeline.write_partitioned

            def crash_write(df, path, **kw):
                if path == f"{out}/{first_write}":
                    raise RuntimeError(f"injected crash before the {stage} write")
                return write(df, path, **kw)

            m.setattr(kgeng.pipeline, "write_partitioned", crash_write)
        else:
            commit = LineageLog.commit

            def crash_commit(self, name, *args, **kw):
                if name == stage:
                    raise RuntimeError(f"injected crash before the {stage} commit")
                return commit(self, name, *args, **kw)

            m.setattr(LineageLog, "commit", crash_commit)
        with pytest.raises(RuntimeError, match="injected crash"):
            run_pipeline(spark, pages, dic, out)
    assert os.path.exists(f"{out}/{first_write}") == (point == "before_commit")
    logged = {f.rsplit("-", 1)[0] for f in os.listdir(f"{out}/_lineage")}  # <stage>-<fp>.json
    assert logged == committed

    result = run_pipeline(spark, pages, dic, out)
    ran = {k for k, v in result["metrics"].items() if not v["skipped"]}
    assert ran == set(CRASH_STAGES) - committed
    assert {t: _content(spark, f"{out}/{t}") for t in ("edges", "nodes")} == reference
    shutil.rmtree(out)
