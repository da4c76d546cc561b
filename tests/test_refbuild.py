"""Reference-parity tests: typed-header CSV scan, 5-stage build
(convert/lookups/bin/DDL/import), merged-JSON sink."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from kgeng import fixtures
from kgeng.graph.build import ORDERED_CATEGORIES
from kgeng.graph.refbuild import run_refbuild
from kgeng.io.sources import read_kgx_csv, read_kgx_jsonl, write_merged_json
from tests.conftest import FIX_DIR

FIX = os.path.join(FIX_DIR, "kgx")
OUT = os.path.join(FIX_DIR, "refbuild_out")

N_NODES, N_EDGES = 200, 600


@pytest.fixture(scope="module")
def kgx_paths():
    return fixtures.write_kgx_csv(FIX, N_NODES, N_EDGES)


def test_typed_header_scan(spark, kgx_paths):
    nodes = read_kgx_csv(spark, kgx_paths["nodes_csv"], kgx_paths["nodes_hdr"])
    row = nodes.filter(F.col("id") == fixtures.entity_curie(3)).collect()[0]
    assert isinstance(row["category"], list) and len(row["category"]) >= 1
    assert row["lipinski"] == 3  # "3.0" -> 3 via two-step cast
    assert isinstance(row["equivalent_identifiers"], list)
    edges = read_kgx_csv(spark, kgx_paths["edges_csv"], kgx_paths["edges_hdr"])
    erow = edges.limit(1).collect()[0]
    assert erow["p_value"] == [0.001, 0.05]
    assert isinstance(erow["distance_to_feature"], int)


@pytest.fixture(scope="module")
def build(spark, kgx_paths):
    return run_refbuild(
        spark,
        kgx_paths["nodes_csv"],
        kgx_paths["nodes_hdr"],
        kgx_paths["edges_csv"],
        kgx_paths["edges_hdr"],
        OUT,
    )


def test_refbuild_join_drop_semantics(build):
    # every 50th edge has a dangling object -> dropped (J2)
    assert build["dropped_edges"].count() == N_EDGES // 50
    assert build["edges"].count() == N_EDGES - N_EDGES // 50


def test_refbuild_o1_invariant(build):
    for r in build["nodes"].select("labels").collect():
        labels = r["labels"]
        present = [c for c in ORDERED_CATEGORIES if c in labels]
        if present:
            assert labels[0] == present[0]
        assert len(labels) == len(set(labels))  # deduped


def test_refbuild_ddl_shapes(build):
    assert build["node_ddl"], "no node DDL generated"
    for stmt in build["node_ddl"]:
        assert stmt.startswith("CREATE NODE TABLE `biolink:")
        assert "PRIMARY KEY (id)" in stmt
        assert "lipinski INT64" in stmt
    for stmt in build["rel_ddl"]:
        assert stmt.startswith("CREATE REL TABLE `biolink:")
        assert "FROM `" in stmt and "` TO `" in stmt
        assert "p_value FLOAT[]" in stmt
    assert len(build["copy_manifest"]) == len(build["classes"]) + len(
        build["predicate_pairs"]
    )


def test_refbuild_bin_layout(build):
    node_parts = glob.glob(f"{OUT}/bins/nodes/node_class=*")
    assert sorted(os.path.basename(p).split("=")[1].replace("%3A", ":") for p in node_parts) == build["classes"]
    edge_parts = glob.glob(f"{OUT}/bins/edges/label=*/subject_class=*/object_class=*")
    assert edge_parts, "edge bins missing"


def test_refbuild_predicate_pairs_sorted_distinct(build):
    for pred, pairs in build["predicate_pairs"].items():
        assert pairs == sorted(set(pairs)), pred


def test_merged_json_sink(spark, build, tmp_path):
    out = os.path.join(FIX_DIR, "merged_json")
    nodes = build["nodes"].withColumnRenamed("labels", "category").drop("node_class")
    edges = (
        build["edges"]
        .withColumnRenamed("label", "predicate")
        .withColumnRenamed("from", "subject")
        .withColumnRenamed("to", "object")
    )
    write_merged_json(nodes, edges, out)
    back = read_kgx_jsonl(spark, out)
    counts = {r["type"]: r["n"] for r in back.groupBy("type").agg(F.count("*").alias("n")).collect()}
    assert counts["node"] == N_NODES
    assert counts["relationship"] == N_EDGES - N_EDGES // 50
    rel = back.filter("type = 'relationship'").limit(1).collect()[0]
    assert rel["start"] and rel["end"] and rel["label"].startswith("biolink:")
    # edge ids unique (O2)
    assert back.filter("type='relationship'").select("id").distinct().count() == counts["relationship"]


def test_copy_manifest_globs_match_files(build):
    """Every COPY statement's glob must match at least one produced
    file — the drive-the-same-DB manifest has to load the bins it
    points at (ADVICE r1)."""
    import re

    for stmt in build["copy_manifest"]:
        m = re.search(r"FROM '([^']+)'", stmt)
        assert m, stmt
        assert glob.glob(m.group(1)), f"COPY glob matches nothing: {stmt}"


def test_age_codegen_golden():
    """E4 parity: the AGE module's single-table DDL/COPY framing
    (AGE/age_build_graph_csv.py:26-43,60-188) and the true AGE SQL
    session from docs/Apache-AGE-cmds.txt:1-34."""
    from kgeng.graph.refbuild import (
        age_copy_statements,
        age_single_table_ddl,
        age_sql_script,
    )

    node_tags = {"id": "id", "name": "string", "category": "label", "score": "float"}
    edge_tags = {
        "subject": "start_id",
        "predicate": "type",
        "object": "end_id",
        "count": "int",
        "flags": "string[]",
    }
    ddl = age_single_table_ddl(node_tags, edge_tags)
    assert ddl[0] == (
        "CREATE NODE TABLE Node(id STRING,name STRING,labels STRING[],"
        "score FLOAT, PRIMARY KEY (id))"
    )
    assert ddl[1] == (
        "CREATE REL TABLE Edge(FROM Node TO Node, subject STRING,"
        "label STRING,object STRING,count INT64,flags STRING[])"
    )
    copies = age_copy_statements(["/d/n1.csv"], ["/d/e1.csv"])
    assert copies[0] == (
        'COPY Node FROM "/d/n1.csv" (HEADER=true, DELIMITER=",", IGNORE_ERRORS=false);'
    )
    assert copies[1].startswith('COPY Edge FROM "/d/e1.csv"')
    sql = age_sql_script("CTD", {"Country": "/age/countries.csv"})
    assert sql[0] == "LOAD 'age';"
    assert sql[1] == "SET search_path TO ag_catalog;"
    assert "SELECT * FROM create_graph('CTD');" in sql
    assert "SELECT create_vlabel('CTD','Country');" in sql
    assert any(
        s.startswith("SELECT load_labels_from_file('CTD',") and "'/age/countries.csv'" in s
        for s in sql
    )
    assert 'SELECT COUNT(*) FROM "CTD"."Country";' == sql[-1]
    # drop_first injects the doc's drop_graph before create
    sql2 = age_sql_script("CTD", {}, drop_first=True)
    assert "SELECT * FROM drop_graph('CTD', true);" in sql2


def test_refbuild_age_manifests(spark, kgx_paths, tmp_path):
    """run_refbuild's AGE manifests point at bins that exist."""
    import glob
    import re

    from kgeng.graph.refbuild import run_refbuild

    build = run_refbuild(
        spark,
        kgx_paths["nodes_csv"],
        kgx_paths["nodes_hdr"],
        kgx_paths["edges_csv"],
        kgx_paths["edges_hdr"],
        str(tmp_path / "age_build"),
    )
    assert build["age_ddl"][0].startswith("CREATE NODE TABLE Node(")
    assert build["age_ddl"][1].startswith("CREATE REL TABLE Edge(FROM Node TO Node,")
    for stmt in build["age_ddl"]:
        m = re.search(r'FROM "([^"]+)"', stmt)
        if m:
            assert glob.glob(m.group(1)), f"AGE COPY glob matches nothing: {stmt}"
    loads = [s for s in build["age_sql"] if s.startswith("SELECT load_labels_from_file")]
    assert loads
    for stmt in loads:
        path = re.findall(r"'([^']+)'", stmt)[-1]
        assert glob.glob(path), f"AGE load glob matches nothing: {stmt}"


def test_cypher_load_csv_codegen_golden():
    """E3 parity: per-tag cast emission matches the reference's
    get_conversion semantics (MemGraph/mg_build_individual_json.py:
    233-267)."""
    from kgeng.graph.refbuild import cypher_load_csv, cypher_property_map

    tags = {
        "id": "id",
        "name": "string",
        "is_active": "boolean",
        "score": "float",
        "count": "int",
        "category": "label",
        "tags": "string[]",
        "weights": "float[]",
    }
    out = cypher_property_map(tags)
    assert out.startswith("{\n") and out.endswith("\n}")
    assert "\tid: row.id," in out
    assert "\tname: row.name," in out
    assert "\tis_active: toBoolean(row.is_active)," in out
    assert "\tscore: toFloat(row.score)," in out
    assert "\tcount: toInteger(row.count)," in out
    assert "\tcategory: split(row.category, ';')," in out
    assert "\ttags: split(row.tags, ';')," in out
    assert "toFloat(x)" in out and "split(coalesce(row.weights, ''), ';')" in out
    # sanitization: non-word chars become _
    weird = cypher_property_map({"p-value:x": "float"})
    assert "p_value_x: toFloat(row.p_value_x)" in weird
    node_stmt = cypher_load_csv("/tmp/nodes.csv", {"id": "id"}, kind="node")
    assert node_stmt.startswith('LOAD CSV FROM "/tmp/nodes.csv" WITH HEADER AS row')
    assert "CREATE (n: Node {" in node_stmt
    edge_stmt = cypher_load_csv("/tmp/edges.csv", {"subject": "start_id"}, kind="edge")
    assert "MATCH (a: Node {id: row.subject}), (b: Node {id: row.object})" in edge_stmt


def test_force_int32_by_name(spark, kgx_paths):
    """The reference forces chem-descriptor columns to int32 by NAME,
    not header tag (Kuzu/kuzu_build_graph_csv.py:109-110,122)."""
    from kgeng.schemas import parse_typed_header

    schema, tags = parse_typed_header(
        "id:ID\tlipinski:float\tother:float", force_int32=["lipinski"]
    )
    by_name = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert by_name["lipinski"] == "int"
    assert by_name["other"] == "double"
    assert tags["lipinski"] == "int"
    nodes = read_kgx_csv(
        spark, kgx_paths["nodes_csv"], kgx_paths["nodes_hdr"], force_int32=["lipinski"]
    )
    assert dict(nodes.dtypes)["lipinski"] == "int"


def test_degree0_detach_delete_rewrite(spark, kgx_paths, tmp_path):
    """Materialized degree-0 delete: counts drop by exactly the victim
    set, incident edges vanish, and a rerun against the same input
    resumes from the committed lineage row without rewriting."""
    import os

    from kgeng.graph.maintenance import degree0_nodes, detach_delete, run_degree0_delete

    nodes_dir = str(tmp_path / "nodes_pq")
    edges_dir = str(tmp_path / "edges_pq")
    nodes = read_kgx_csv(spark, kgx_paths["nodes_csv"], kgx_paths["nodes_hdr"])
    edges = read_kgx_csv(spark, kgx_paths["edges_csv"], kgx_paths["edges_hdr"])
    edges = edges.withColumnRenamed("subject", "subject").select(
        F.col("subject"), F.col("predicate"), F.col("object")
    )
    nodes.write.parquet(nodes_dir)
    edges.write.parquet(edges_dir)
    out = str(tmp_path / "snap")
    rec = run_degree0_delete(spark, nodes_dir, edges_dir, out, limit=10)
    m = rec["metrics"]
    assert m["n_deleted"] <= 10
    assert m["n_nodes_after"] == m["n_nodes_before"] - m["n_deleted"]
    # no surviving edge touches a deleted node
    new_nodes = spark.read.parquet(f"{out}/nodes")
    new_edges = spark.read.parquet(f"{out}/edges")
    # the footer counts committed as metrics are the tables' row counts
    assert m["n_nodes_before"] == spark.read.parquet(nodes_dir).count()
    assert m["n_edges_before"] == spark.read.parquet(edges_dir).count()
    assert m["n_nodes_after"] == new_nodes.count()
    assert m["n_edges_after"] == new_edges.count()
    deleted = (
        spark.read.parquet(nodes_dir)
        .join(new_nodes.select("id"), "id", "left_anti")
        .select("id")
    )
    touching = new_edges.join(
        deleted.select(F.col("id").alias("subject")), "subject", "left_semi"
    ).count() + new_edges.join(
        deleted.select(F.col("id").alias("object")), "object", "left_semi"
    ).count()
    assert touching == 0
    # resume: second run returns the SAME committed record, no rewrite
    mtime = os.path.getmtime(f"{out}/nodes/_SUCCESS")
    rec2 = run_degree0_delete(spark, nodes_dir, edges_dir, out, limit=10)
    assert rec2["committed_at"] == rec["committed_at"]
    assert os.path.getmtime(f"{out}/nodes/_SUCCESS") == mtime
    # pure-DataFrame API sanity: victims really have degree_in 0
    victims = degree0_nodes(nodes, edges)
    assert victims.join(
        edges.select(F.col("object").alias("id")).distinct(), "id", "left_semi"
    ).count() == 0
    nn, ne = detach_delete(nodes, edges, victims.select("id"))
    assert nn.count() + victims.count() == nodes.count()


def test_detach_delete_edge_batch(spark, kgx_paths):
    from kgeng.graph.maintenance import detach_delete_edge_batch

    nodes = read_kgx_csv(spark, kgx_paths["nodes_csv"], kgx_paths["nodes_hdr"])
    edges = read_kgx_csv(spark, kgx_paths["edges_csv"], kgx_paths["edges_hdr"])
    new_nodes, new_edges = detach_delete_edge_batch(nodes, edges, limit=25)
    batch_subjects = {
        r["subject"]
        for r in edges.orderBy("subject", "predicate", "object").limit(25).collect()
    }
    # every batch subject node is gone, along with all its edges
    assert new_nodes.filter(F.col("id").isin(list(batch_subjects))).count() == 0
    assert new_edges.filter(F.col("subject").isin(list(batch_subjects))).count() == 0


def test_merged_json_single_array_framing(spark, build, tmp_path):
    """S7 full parity: the import_util.json single-array framing is
    valid JSON, one record per input row."""
    import json

    from kgeng.io.sources import write_merged_json_array

    nodes = build["nodes"].withColumnRenamed("labels", "category").drop("node_class")
    edges = (
        build["edges"]
        .withColumnRenamed("label", "predicate")
        .withColumnRenamed("from", "subject")
        .withColumnRenamed("to", "object")
    )
    out_file = str(tmp_path / "import_util.json")
    n = write_merged_json_array(nodes, edges, out_file, tmp_dir=str(tmp_path / "jl"))
    with open(out_file, encoding="utf-8") as fh:
        recs = json.load(fh)
    assert isinstance(recs, list) and len(recs) == n
    kinds = {r["type"] for r in recs}
    assert kinds == {"node", "relationship"}
