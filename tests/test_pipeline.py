"""End-to-end pipeline: triple P/R vs the closed-form golden set
(target >= 0.95, BASELINE.json), linking ambiguity resolution, and
snapshot/lineage resume without recomputation."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from kgeng import fixtures
from kgeng.link.candidates import link_map
from kgeng.pipeline import run_pipeline
from tests.conftest import codegen_compiles

FIX_DIR = "/root/repo/.fixtures"
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
    linked, unlinked = link_triples(triples, dictionary)
    got_linked = {(r["url"], r["subject_curie"], r["object_curie"]) for r in linked.collect()}
    got_miss = {(r["url"], r["object_surface"]) for r in unlinked.collect()}
    assert got_linked == {("u1", fixtures.entity_curie(0), fixtures.entity_curie(5))}
    assert got_miss == {("u2", "no such entity anywhere")}


def test_ambiguous_surface_links_to_label_owner(spark, inputs):
    _pages, dic = inputs
    dictionary = spark.read.parquet(dic)
    surfaces = spark.createDataFrame(
        [(fixtures.entity_name(0).lower(),), (fixtures.entity_name(5).lower(),)],
        "surface_norm: string",
    )
    got = {r["surface_norm"]: r["curie"] for r in link_map(surfaces, dictionary).collect()}
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


def test_materialize_resumes_per_table(spark, inputs, pipeline_out):
    """Crash between the edges commit and the nodes commit (the exact
    Iceberg duplicate-append scenario, ADVICE r5): on resume the edges
    table must NOT be re-committed — under an Iceberg backend the
    commit IS the append — while nodes rebuild normally."""
    from kgeng.pipeline import Pipeline

    pages, dic = inputs
    out = os.path.join(FIX_DIR, "kg_out")
    p = Pipeline(spark, pages, dic, out)
    canon_path = f"{out}/canon"
    cmap_path = f"{out}/canon_map"
    from kgeng.io.lineage import fingerprint_paths

    fp = fingerprint_paths(canon_path, dic, extra="materialize")
    nodes_rec = p.log._path("materialize.nodes", fp)
    edges_rec = p.log._path("materialize.edges", fp)
    assert os.path.exists(nodes_rec) and os.path.exists(edges_rec)
    n_nodes_before = spark.read.parquet(f"{out}/nodes").count()
    # simulate the crash: nodes commit (and output) lost, edges kept
    os.remove(nodes_rec)
    shutil.rmtree(f"{out}/nodes")
    with open(edges_rec, encoding="utf-8") as fh:
        edges_rec_before = fh.read()
    edges_data_mtime = max(
        os.path.getmtime(os.path.join(r, f))
        for r, _d, fs in os.walk(f"{out}/edges") for f in fs
    )
    nodes_out, edges_out = p.stage_materialize(canon_path, cmap_path)
    assert not p.metrics["materialize"]["skipped"]
    # nodes rebuilt with the same content; commit record restored
    assert spark.read.parquet(nodes_out).count() == n_nodes_before
    assert os.path.exists(nodes_rec)
    # edges NOT re-committed and NOT rewritten
    with open(edges_rec, encoding="utf-8") as fh:
        assert fh.read() == edges_rec_before
    assert max(
        os.path.getmtime(os.path.join(r, f))
        for r, _d, fs in os.walk(edges_out) for f in fs
    ) == edges_data_mtime


def test_link_dims_resumes_per_table(spark, inputs, pipeline_out):
    """Same per-table contract for the 4 linking dim tables: losing
    one table's commit rebuilds only that table."""
    from kgeng.io.lineage import fingerprint_paths
    from kgeng.pipeline import LINK_DIM_TABLES, Pipeline

    pages, dic = inputs
    out = os.path.join(FIX_DIR, "kg_out")
    p = Pipeline(spark, pages, dic, out)
    fp = fingerprint_paths(dic, extra="link_dims")
    recs = {n: p.log._path(f"link_dims.{n}", fp) for n in LINK_DIM_TABLES}
    assert all(os.path.exists(r) for r in recs.values())
    total_before = sum(
        p.log.committed(f"link_dims.{n}", fp)["row_count"] for n in LINK_DIM_TABLES
    )
    victim = "idf"
    os.remove(recs[victim])
    shutil.rmtree(f"{out}/link_dims/{victim}")
    kept = {n: open(recs[n], encoding="utf-8").read()
            for n in LINK_DIM_TABLES if n != victim}
    p.stage_link_dims()
    assert not p.metrics["link_dims"]["skipped"]
    assert p.metrics["link_dims"]["rows"] == total_before
    assert os.path.exists(recs[victim])
    for n, before in kept.items():
        with open(recs[n], encoding="utf-8") as fh:
            assert fh.read() == before, n
