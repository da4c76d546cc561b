"""Derive reference-shaped ``nodes`` / ``edges`` KG tables from the
driver's TPC-H-ish parquet tables.

This gives the read-side query corpus (SURVEY.md §2.9) a deterministic
property graph whose expected answers a DuckDB oracle can compute
independently from the same parquet files. The derivation rules are a
fixed public contract, stated once as data in ``NODES`` and ``EDGES``
below and mirrored by ``kgeng.queries.oracles.KG_PRELUDE``. Every node
id is the CURIE ``<prefix>:<key>``; its equivalent identifiers are the
id and ``ALT:<id>``.

Each branch is one ``selectExpr`` over SQL strings: the JVM parses a
string expression in one py4j call, where building the same Column
from ``F.*`` calls costs one round trip per call.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgeng.io.scanmeta import read_parquet

# c_mktsegment -> category array. The arrays are deliberately NOT
# priority-ordered (and AUTOMOBILE holds a duplicate) so the O1 reorder
# kernel has real work to do, as in the raw ORION dumps the reference
# ingests.
SEGMENT_CATEGORY = """CASE c_mktsegment
    WHEN 'BUILDING' THEN array('biolink:NamedThing', 'biolink:Disease', 'biolink:PhenotypicFeature')
    WHEN 'AUTOMOBILE' THEN array('biolink:NamedThing', 'biolink:Gene', 'biolink:Gene')
    WHEN 'MACHINERY' THEN array('biolink:Cell', 'biolink:NamedThing')
    WHEN 'HOUSEHOLD' THEN array('biolink:NamedThing', 'biolink:OrganismTaxon')
    WHEN 'FURNITURE' THEN array('biolink:NamedThing')
    ELSE array('biolink:NamedThing') END"""

# prefix -> (table, key column, name SQL, category SQL)
NODES = {
    "CUST": ("customer", "c_custkey", "c_name", SEGMENT_CATEGORY),
    "SUPP": ("supplier", "s_suppkey", "s_name", "array('biolink:NamedThing', 'biolink:Activity')"),
    "PART": ("part", "p_partkey", "p_name",
             "array('biolink:ChemicalEntity', 'biolink:SmallMolecule', 'biolink:NamedThing')"),
    # brands are a column of part, not its key: one node per distinct value
    "BRND": ("part", "p_brand", "p_brand", "array('biolink:GeneFamily', 'biolink:NamedThing')"),
    "NATN": ("nation", "n_nationkey", "n_name", "array('biolink:AnatomicalEntity', 'biolink:NamedThing')"),
    "REGN": ("region", "r_regionkey", "r_name", "array('biolink:BiologicalEntity', 'biolink:NamedThing')"),
    "ORDR": ("orders", "o_orderkey", "concat('order-', o_orderkey)",
             "array('biolink:InformationContentEntity', 'biolink:NamedThing')"),
}

# (table, subject SQL, predicate, object SQL, primary_knowledge_source)
EDGES = [
    ("orders", "concat('CUST:', o_custkey)", "biolink:placed", "concat('ORDR:', o_orderkey)", "infores:orders"),
    ("lineitem", "concat('ORDR:', l_orderkey)", "biolink:contains", "concat('PART:', l_partkey)", "infores:lineitem"),
    ("lineitem", "concat('ORDR:', l_orderkey)", "biolink:supplied_by", "concat('SUPP:', l_suppkey)",
     "infores:lineitem"),
    ("customer", "concat('CUST:', c_custkey)", "biolink:located_in", "concat('NATN:', c_nationkey)",
     "infores:customer"),
    ("supplier", "concat('SUPP:', s_suppkey)", "biolink:located_in", "concat('NATN:', s_nationkey)",
     "infores:supplier"),
    ("nation", "concat('NATN:', n_nationkey)", "biolink:part_of", "concat('REGN:', n_regionkey)", "infores:nation"),
    ("part", "concat('PART:', p_partkey)", "biolink:subclass_of", "concat('BRND:', p_brand)", "infores:part"),
]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _node_branch(df: DataFrame, prefix: str) -> DataFrame:
    _table, key, name, category = NODES[prefix]
    if prefix == "BRND":
        df = df.select(key).distinct()
    curie = f"concat('{prefix}:', {key})"
    return df.selectExpr(
        f"{curie} AS id",
        f"{name} AS name",
        f"{category} AS category",
        f"array({curie}, concat('ALT:', {curie})) AS equivalent_identifiers",
    )


def kg_node_by_id(spark: SparkSession, sf_dir: str, node_id: str) -> DataFrame:
    """Point lookup with CURIE-prefix routing: the id is a
    ``concat(prefix, key)`` derivation Catalyst cannot invert, so an
    integer key of a prefix backed by one table is pushed as a raw-key
    filter into that table's parquet scan — the manual twin of
    partition pruning. Brand ids and unknown prefixes filter
    :func:`kg_nodes`. Returns rows in the full node schema; empty if
    the key misses."""
    prefix, _, key = node_id.partition(":")
    if prefix not in NODES or prefix == "BRND" or not key.isdigit():
        return kg_nodes(spark, sf_dir).filter(F.col("id") == node_id)
    table, key_col = NODES[prefix][:2]
    src = read_table(spark, sf_dir, table).filter(F.col(key_col) == int(key))
    return _node_branch(src, prefix).filter(F.col("id") == node_id)


def kg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of all node sources in the target node schema
    ``(id, name, category, equivalent_identifiers)``."""
    scans = {t: read_table(spark, sf_dir, t) for t in {row[0] for row in NODES.values()}}
    branches = [_node_branch(scans[row[0]], prefix) for prefix, row in NODES.items()]
    return reduce(DataFrame.unionByName, branches)


def kg_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of all edge sources in the target edge schema
    ``(subject, predicate, object, primary_knowledge_source)``."""
    scans = {t: read_table(spark, sf_dir, t) for t in {row[0] for row in EDGES}}
    branches = [
        scans[table].selectExpr(
            f"{subject} AS subject",
            f"'{predicate}' AS predicate",
            f"{obj} AS object",
            f"'{source}' AS primary_knowledge_source",
        )
        for table, subject, predicate, obj, source in EDGES
    ]
    return reduce(DataFrame.unionByName, branches)
