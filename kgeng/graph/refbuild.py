"""The reference's 5-stage bulk-load pipeline (CONVERT / CREATE_LUS /
BIN / CREATE_TABLES / IMPORT — ``Kuzu/kuzu_build_graph_csv.py:621-753``)
re-expressed as one Spark job graph.

Stage mapping (SURVEY.md §3 E1):

| reference stage | here |
|---|---|
| CONVERT: per-file pandas rename/reorder/listformat/coerce | ``convert_nodes`` / ``convert_edges`` (pure expressions over the typed-header scan) |
| CREATE_LUS: in-heap id->class dict + predicate->(s,o) class set, pickled | ``node_class_lookup`` + ``predicate_class_pairs`` DataFrames, snapshotted as parquet |
| BIN: per-class / per-(pred, s_cls, o_cls) CSV fan-out | one dynamic-partition write each |
| CREATE_TABLES: DDL strings per class / predicate | ``generate_node_ddl`` / ``generate_rel_ddl`` |
| IMPORT: COPY per bin file | ``import_statements`` (COPY manifest) — on Spark the bins ARE the tables; the manifest exists for drive-the-same-DB parity |

The reference reruns stages via pickle checkpoints; here each stage is
a parquet snapshot, so a rerun is just re-reading (kgeng.io.lineage
adds fingerprint-gated skipping in the main pipeline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgeng.graph.build import (
    node_class_lookup,
    predicate_class_pairs,
    reorder_categories,
    resolve_edge_classes,
)
from kgeng.io.scanmeta import read_parquet
from kgeng.io.sources import read_kgx_csv
from kgeng.schemas import sanitize_column_name

# header tag -> Kuzu-side DDL type (the reference's lattice,
# Kuzu/kuzu_build_graph_csv.py:518-532)
_DDL_TYPES = {
    "string": "STRING",
    "id": "STRING",
    "start_id": "STRING",
    "end_id": "STRING",
    "type": "STRING",
    "label": "STRING[]",
    "boolean": "BOOLEAN",
    "float": "FLOAT",
    "int": "INT64",
    "float[]": "FLOAT[]",
    "string[]": "STRING[]",
}


def convert_nodes(nodes: DataFrame, drop_cols: list[str] | None = None) -> DataFrame:
    """CONVERT (nodes): priority-reorder the category array (O1),
    rename ``category -> labels`` (P1), drop configured columns (P3).
    Array split / int coercion already happened in the typed scan."""
    out = nodes.withColumn("category", reorder_categories(F.col("category")))
    out = out.withColumnRenamed("category", "labels")
    for c in drop_cols or []:
        out = out.drop(c)
    return out


def convert_edges(edges: DataFrame, drop_cols: list[str] | None = None) -> DataFrame:
    """CONVERT (edges): duplicate subject/object into leading
    ``from``/``to`` columns (P2 — the loader requires them first),
    rename ``predicate -> label`` (P1)."""
    rest = [c for c in edges.columns if c not in ("subject", "object")]
    out = edges.select(
        F.col("subject").alias("from"), F.col("object").alias("to"), *rest
    ).withColumnRenamed("predicate", "label")
    for c in drop_cols or []:
        out = out.drop(c)
    return out


def generate_node_ddl(classes: list[str], tags: dict[str, str]) -> list[str]:
    """CREATE_TABLES (nodes): one ``CREATE NODE TABLE`` per primary
    class (ref ``:414``), columns from the typed header, PRIMARY
    KEY(id)."""
    cols = ", ".join(
        f"{sanitize_column_name(name)} {_DDL_TYPES[tag]}" for name, tag in tags.items()
    )
    return [
        f"CREATE NODE TABLE `{cls}`({cols}, PRIMARY KEY (id))" for cls in sorted(classes)
    ]


def generate_rel_ddl(pred_pairs: dict[str, list[tuple[str, str]]], tags: dict[str, str]) -> list[str]:
    """CREATE_TABLES (edges): one ``CREATE REL TABLE`` per predicate
    with every observed (subject_class, object_class) as a FROM/TO
    pair (ref ``:432-435``)."""
    prop_cols = ", ".join(
        f"{sanitize_column_name(name)} {_DDL_TYPES[tag]}"
        for name, tag in tags.items()
        if tag not in ("start_id", "end_id", "type")
    )
    out = []
    for pred in sorted(pred_pairs):
        fromto = ", ".join(
            f"FROM `{s}` TO `{o}`" for s, o in sorted(pred_pairs[pred])
        )
        out.append(f"CREATE REL TABLE `{pred}`({fromto}, {prop_cols})")
    return out


def _part_dir(col: str, value: str) -> str:
    """Directory name Spark's dynamic-partition writer produces for
    ``col=value`` — special chars in the value are percent-escaped
    (``:`` -> ``%3A``), so a manifest glob must use the escaped form or
    it matches nothing."""
    from urllib.parse import quote

    return f"{col}={quote(value, safe='')}"


def import_statements(bin_root: str, classes: list[str], predicates: list[str]) -> list[str]:
    """IMPORT: the COPY manifest (ref ``:571,607`` — edges tolerate
    malformed rows via IGNORE_ERRORS; Spark's PERMISSIVE read is the
    equivalent on the way in).

    The statements point at the CSV parity sinks (``nodes_flat`` /
    ``edges_flat``), whose partition layout run_refbuild writes to
    match exactly — each glob is asserted non-empty in tests, so the
    drive-the-same-DB manifest actually loads the produced bins."""
    stmts = [
        f"COPY `{cls}` FROM '{bin_root}/nodes_flat/{_part_dir('node_class', cls)}/*.csv'"
        f" (HEADER=true, DELIMITER=',')"
        for cls in sorted(classes)
    ]
    stmts += [
        f"COPY `{p}` FROM '{bin_root}/edges_flat/{_part_dir('label', p)}/*.csv'"
        f" (HEADER=true, DELIMITER=',', IGNORE_ERRORS=true)"
        for p in sorted(predicates)
    ]
    return stmts


# ---------------------------------------------------------------------------
# E3 — MemGraph LOAD CSV codegen parity
# ---------------------------------------------------------------------------

# header tag -> Cypher cast template ({col} is the sanitized name).
# Mirrors get_conversion (MemGraph/mg_build_individual_json.py:233-267):
# identity for string-ish tags, toBoolean/toFloat/toInteger casts,
# split(...) for ';'-packed arrays. For float[] the reference emits an
# UNWIND/COLLECT fragment that is not valid inside a property map
# (documented reference bug); we emit the well-formed list
# comprehension with identical semantics (split, drop empties, toFloat).
_CYPHER_CASTS: dict[str, str] = {
    "string": "row.{col}",
    "id": "row.{col}",
    "start_id": "row.{col}",
    "end_id": "row.{col}",
    "type": "row.{col}",
    "boolean": "toBoolean(row.{col})",
    "float": "toFloat(row.{col})",
    "int": "toInteger(row.{col})",
    "string[]": "split(row.{col}, '{sep}')",
    "label": "split(row.{col}, '{sep}')",
    "float[]": "[x IN split(coalesce(row.{col}, ''), '{sep}') WHERE x <> '' | toFloat(x)]",
}


def cypher_property_map(tags: dict[str, str], array_split_char: str = ";") -> str:
    """E3/F6 — generate the cast-laden Cypher property-map fragment a
    MemGraph ``LOAD CSV`` statement embeds, from a typed header
    (``process_csv_header``/``get_conversion``,
    ``MemGraph/mg_build_individual_json.py:157-267``). One
    ``name: cast(row.name)`` line per column, tab-indented, wrapped in
    braces — the reference's framing."""
    lines = []
    for name, tag in tags.items():
        col = sanitize_column_name(name)
        expr = _CYPHER_CASTS[tag].format(col=col, sep=array_split_char)
        lines.append(f"\t{col}: {expr}")
    return "{\n" + ",\n".join(lines) + "\n}"


def cypher_load_csv(csv_path: str, tags: dict[str, str], kind: str = "node") -> str:
    """Full LOAD CSV statement (nodes create ``(n: Node {...})``; edges
    match both endpoints by id and create the typed relationship —
    the statement shapes documented at
    ``MemGraph/mg_build_individual_json.py:163-188``)."""
    prop_map = cypher_property_map(tags)
    if kind == "node":
        return (
            f'LOAD CSV FROM "{csv_path}" WITH HEADER AS row\n'
            f"CREATE (n: Node {prop_map})"
        )
    return (
        f'LOAD CSV FROM "{csv_path}" WITH HEADER AS row\n'
        f'MATCH (a: Node {{id: row.subject}}), (b: Node {{id: row.object}})\n'
        f"CREATE (a)-[e: Edge {prop_map}]->(b)"
    )


# ---------------------------------------------------------------------------
# E4 — Apache AGE codegen parity
# ---------------------------------------------------------------------------


def age_single_table_ddl(
    node_tags: dict[str, str], edge_tags: dict[str, str]
) -> list[str]:
    """The AGE module's actually-executed DDL + COPY shape
    (``AGE/age_build_graph_csv.py:26-43,141-188`` — documented drift:
    despite the name it drives an embedded Kuzu engine): ONE monolithic
    ``Node`` table and ONE ``Edge`` rel table, columns from the typed
    header via the same type lattice, with the module's renames applied
    as the reference applies them — a BLUNT string replace of
    ``category``→``labels`` / ``predicate``→``label`` over the
    generated column string (``:91-93``), faithfully reproduced
    (a column named ``subcategory`` would be hit there too)."""

    def cols(tags: dict[str, str], renames: dict[str, str]) -> str:
        # reference joins with ',' (no space) and strips the last comma
        s = ",".join(
            f"{sanitize_column_name(name)} {_DDL_TYPES[tag]}"
            for name, tag in tags.items()
        )
        for k, v in renames.items():
            s = s.replace(k, v)
        return s

    n_cols = cols(node_tags, {"category": "labels"})
    e_cols = cols(edge_tags, {"predicate": "label"})
    return [
        f"CREATE NODE TABLE Node({n_cols}, PRIMARY KEY (id))",
        f"CREATE REL TABLE Edge(FROM Node TO Node, {e_cols})",
    ]


def age_copy_statements(node_csvs: list[str], edge_csvs: list[str]) -> list[str]:
    """COPY manifest in the AGE module's exact framing
    (``AGE/age_build_graph_csv.py:168,183`` — note nodes AND edges both
    load with ``IGNORE_ERRORS=false`` there, unlike the Kuzu module's
    tolerant edge load)."""
    return [
        f'COPY Node FROM "{p}" (HEADER=true, DELIMITER=",", IGNORE_ERRORS=false);'
        for p in node_csvs
    ] + [
        f'COPY Edge FROM "{p}" (HEADER=true, DELIMITER=",", IGNORE_ERRORS=false);'
        for p in edge_csvs
    ]


def age_sql_script(
    graph: str, label_csvs: dict[str, str], drop_first: bool = False
) -> list[str]:
    """The true Apache-AGE SQL session, statement for statement from
    ``docs/Apache-AGE-cmds.txt:1-34``: LOAD 'age', search_path to
    ag_catalog, create_graph, one ``create_vlabel`` +
    ``load_labels_from_file`` per label (fed here by the refbuild
    per-class CSV bins), and the per-label COUNT check the doc ends
    with."""
    stmts = ["LOAD 'age';", "SET search_path TO ag_catalog;"]
    if drop_first:
        stmts.append(f"SELECT * FROM drop_graph('{graph}', true);")
    stmts.append(f"SELECT * FROM create_graph('{graph}');")
    for label in sorted(label_csvs):
        stmts.append(f"SELECT create_vlabel('{graph}','{label}');")
    for label in sorted(label_csvs):
        stmts.append(
            f"SELECT load_labels_from_file('{graph}',\n"
            f"                             '{label}',\n"
            f"                             '{label_csvs[label]}');"
        )
    for label in sorted(label_csvs):
        stmts.append(f'SELECT COUNT(*) FROM "{graph}"."{label}";')
    return stmts


def run_refbuild(
    spark: SparkSession,
    nodes_csv: str,
    nodes_hdr: str,
    edges_csv: str,
    edges_hdr: str,
    out_dir: str,
) -> dict:
    """The full 5-stage build. Returns stage artifacts + audit counts."""
    from kgeng.schemas import read_typed_header_file

    _, node_tags = read_typed_header_file(nodes_hdr)
    _, edge_tags = read_typed_header_file(edges_hdr)

    # CONVERT
    nodes_raw = read_kgx_csv(spark, nodes_csv, nodes_hdr)
    edges_raw = read_kgx_csv(spark, edges_csv, edges_hdr)
    nodes = convert_nodes(nodes_raw)

    # CREATE_LUS — the lookup "dict" is a DataFrame; snapshot it
    lookup = node_class_lookup(
        nodes.withColumnRenamed("labels", "category"), reorder=False
    )
    lookup.write.mode("overwrite").parquet(f"{out_dir}/lookups/node_classes")
    lookup = read_parquet(spark, f"{out_dir}/lookups/node_classes")
    resolved, dropped = resolve_edge_classes(edges_raw, lookup, broadcast_lookup=True)
    pairs_df = predicate_class_pairs(resolved)
    pairs_df.write.mode("overwrite").parquet(f"{out_dir}/lookups/edge_predicates")
    pairs = {
        r["predicate"]: [(p["subject_class"], p["object_class"]) for p in r["class_pairs"]]
        for r in read_parquet(spark, f"{out_dir}/lookups/edge_predicates").collect()
    }

    # BIN — dynamic-partition fan-out (S6)
    binned_nodes = nodes.withColumn("node_class", F.get(F.col("labels"), 0))
    from kgeng.io.sources import write_kgx_csv

    # CSV parity sinks partitioned to match the COPY manifest globs
    write_kgx_csv(
        binned_nodes, f"{out_dir}/bins/nodes_flat", partition_by=["node_class"]
    )
    binned_nodes.write.mode("overwrite").partitionBy("node_class").parquet(
        f"{out_dir}/bins/nodes"
    )
    converted_edges = convert_edges(resolved)
    write_kgx_csv(
        converted_edges, f"{out_dir}/bins/edges_flat", partition_by=["label"]
    )
    converted_edges.write.mode("overwrite").partitionBy(
        "label", "subject_class", "object_class"
    ).parquet(f"{out_dir}/bins/edges")

    # CREATE_TABLES + IMPORT manifests
    classes = sorted(
        r["node_class"] for r in binned_nodes.select("node_class").distinct().collect()
    )
    node_ddl = generate_node_ddl(classes, node_tags)
    rel_ddl = generate_rel_ddl(pairs, edge_tags)
    copy_manifest = import_statements(f"{out_dir}/bins", classes, sorted(pairs))
    age_ddl = age_single_table_ddl(node_tags, edge_tags) + age_copy_statements(
        [f"{out_dir}/bins/nodes_flat/{_part_dir('node_class', c)}/*.csv" for c in classes],
        [f"{out_dir}/bins/edges_flat/{_part_dir('label', p)}/*.csv" for p in sorted(pairs)],
    )
    age_sql = age_sql_script(
        "KGENG",
        {
            c: f"{out_dir}/bins/nodes_flat/{_part_dir('node_class', c)}/*.csv"
            for c in classes
        },
    )

    return {
        "classes": classes,
        "predicate_pairs": pairs,
        "node_ddl": node_ddl,
        "rel_ddl": rel_ddl,
        "copy_manifest": copy_manifest,
        "age_ddl": age_ddl,
        "age_sql": age_sql,
        "nodes": binned_nodes,
        "edges": converted_edges,
        "dropped_edges": dropped,
    }
