"""Derive reference-shaped ``nodes`` / ``edges`` KG tables from the
driver's TPC-H-ish parquet tables.

This gives the read-side query corpus (SURVEY.md §2.9) a deterministic
property graph whose expected answers a DuckDB oracle can compute
independently from the same parquet files. The derivation rules are a
fixed public contract (mirrored by ``kgeng.queries.oracles``):

nodes
  CUST:<c_custkey>   name=c_name       category per c_mktsegment (below)
  SUPP:<s_suppkey>   name=s_name       [NamedThing, Activity]
  PART:<p_partkey>   name=p_name       [ChemicalEntity, SmallMolecule, NamedThing]
  BRND:<p_brand>     name=p_brand      [GeneFamily, NamedThing]
  NATN:<n_nationkey> name=n_name       [AnatomicalEntity, NamedThing]
  REGN:<r_regionkey> name=r_name       [BiologicalEntity, NamedThing]
  ORDR:<o_orderkey>  name='order-'||k  [InformationContentEntity, NamedThing]

category arrays are deliberately NOT priority-ordered (and AUTOMOBILE
contains a duplicate) so the O1 reorder kernel has real work to do —
this mirrors the raw ORION dumps the reference ingests.

edges (subject, predicate, object, primary_knowledge_source)
  CUST -biolink:placed->       ORDR   (orders)
  ORDR -biolink:contains->     PART   (lineitem)
  ORDR -biolink:supplied_by->  SUPP   (lineitem)
  CUST -biolink:located_in->   NATN   (customer)
  SUPP -biolink:located_in->   NATN   (supplier)
  NATN -biolink:part_of->      REGN   (nation)
  PART -biolink:subclass_of->  BRND   (part)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgeng.io.scanmeta import read_parquet

# c_mktsegment -> deliberately unordered category array
SEGMENT_CATEGORIES: dict[str, list[str]] = {
    "BUILDING": ["biolink:NamedThing", "biolink:Disease", "biolink:PhenotypicFeature"],
    "AUTOMOBILE": ["biolink:NamedThing", "biolink:Gene", "biolink:Gene"],
    "MACHINERY": ["biolink:Cell", "biolink:NamedThing"],
    "HOUSEHOLD": ["biolink:NamedThing", "biolink:OrganismTaxon"],
    "FURNITURE": ["biolink:NamedThing"],
}
DEFAULT_CATEGORY = ["biolink:NamedThing"]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _lit_arr(vals: list[str]):
    return F.array([F.lit(v) for v in vals])


def _curie(prefix: str, key) -> F.Column:
    return F.concat(F.lit(prefix + ":"), F.col(key).cast("string"))


NODE_PREFIX_SOURCES = {
    "CUST": ("customer", "c_custkey"),
    "SUPP": ("supplier", "s_suppkey"),
    "PART": ("part", "p_partkey"),
    "NATN": ("nation", "n_nationkey"),
    "REGN": ("region", "r_regionkey"),
    "ORDR": ("orders", "o_orderkey"),
}


def kg_node_by_id(spark: SparkSession, sf_dir: str, node_id: str) -> DataFrame:
    """Point lookup with CURIE-prefix routing: the id is a
    ``concat(prefix, key)`` derivation Catalyst cannot invert, so the
    router picks the single backing source and pushes the raw-key
    filter into its parquet scan — the manual twin of partition
    pruning (on Iceberg this is an identity-partition prune).
    Returns rows in the full node schema; empty if the prefix has no
    source or the key misses."""
    prefix = node_id.split(":", 1)[0]
    if prefix not in NODE_PREFIX_SOURCES or not node_id.split(":", 1)[1].isdigit():
        return kg_nodes(spark, sf_dir).filter(F.col("id") == node_id)
    table, key_col = NODE_PREFIX_SOURCES[prefix]
    key = int(node_id.split(":", 1)[1])
    src = read_table(spark, sf_dir, table).filter(F.col(key_col) == key)
    return _nodes_from_sources(spark, sf_dir, {table: src}).filter(F.col("id") == node_id)


def kg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of all node sources in the target node schema
    ``(id, name, category, equivalent_identifiers)``."""
    return _nodes_from_sources(spark, sf_dir, {})


def _nodes_from_sources(
    spark: SparkSession, sf_dir: str, overrides: dict[str, DataFrame]
) -> DataFrame:
    """Build the node view; ``overrides`` replaces named backing tables
    (used by the point-lookup router to inject pre-filtered scans).
    When overrides are present, only the overridden sources are
    unioned — the router guarantees the id cannot live elsewhere."""
    def get(name: str) -> DataFrame:
        return overrides.get(name) if name in overrides else read_table(spark, sf_dir, name)

    cust = get("customer")
    supp = get("supplier")
    part = get("part")
    natn = get("nation")
    regn = get("region")
    ordr = get("orders")

    seg_cat = None
    for seg, cats in SEGMENT_CATEGORIES.items():
        branch = F.when(F.col("c_mktsegment") == seg, _lit_arr(cats))
        seg_cat = branch if seg_cat is None else seg_cat.when(F.col("c_mktsegment") == seg, _lit_arr(cats))
    seg_cat = seg_cat.otherwise(_lit_arr(DEFAULT_CATEGORY))

    def node(df, id_col, name_col, category):
        return df.select(
            id_col.alias("id"),
            name_col.alias("name"),
            category.alias("category"),
            F.array(id_col, F.concat(F.lit("ALT:"), id_col)).alias("equivalent_identifiers"),
        )

    brands = part.select(F.col("p_brand")).distinct()
    branches = {
        "customer": node(cust, _curie("CUST", "c_custkey"), F.col("c_name"), seg_cat),
        "supplier": node(supp, _curie("SUPP", "s_suppkey"), F.col("s_name"),
                         _lit_arr(["biolink:NamedThing", "biolink:Activity"])),
        "part": node(part, _curie("PART", "p_partkey"), F.col("p_name"),
                     _lit_arr(["biolink:ChemicalEntity", "biolink:SmallMolecule", "biolink:NamedThing"])),
        "brand": node(brands, _curie("BRND", "p_brand"), F.col("p_brand"),
                      _lit_arr(["biolink:GeneFamily", "biolink:NamedThing"])),
        "nation": node(natn, _curie("NATN", "n_nationkey"), F.col("n_name"),
                       _lit_arr(["biolink:AnatomicalEntity", "biolink:NamedThing"])),
        "region": node(regn, _curie("REGN", "r_regionkey"), F.col("r_name"),
                       _lit_arr(["biolink:BiologicalEntity", "biolink:NamedThing"])),
        "orders": node(ordr, _curie("ORDR", "o_orderkey"),
                       F.concat(F.lit("order-"), F.col("o_orderkey").cast("string")),
                       _lit_arr(["biolink:InformationContentEntity", "biolink:NamedThing"])),
    }
    if overrides:
        picked = [branches[n] for n in overrides if n in branches]
        out = picked[0]
        for b in picked[1:]:
            out = out.unionByName(b)
        return out
    out = None
    for b in branches.values():
        out = b if out is None else out.unionByName(b)
    return out


def kg_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of all edge sources in the target edge schema
    ``(subject, predicate, object, primary_knowledge_source)``."""
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    part = read_table(spark, sf_dir, "part")
    natn = read_table(spark, sf_dir, "nation")
    ordr = read_table(spark, sf_dir, "orders")
    line = read_table(spark, sf_dir, "lineitem")

    def edge(df, s, p, o, src):
        return df.select(
            s.alias("subject"),
            F.lit(p).alias("predicate"),
            o.alias("object"),
            F.lit(src).alias("primary_knowledge_source"),
        )

    return (
        edge(ordr, _curie("CUST", "o_custkey"), "biolink:placed", _curie("ORDR", "o_orderkey"), "infores:orders")
        .unionByName(edge(line, _curie("ORDR", "l_orderkey"), "biolink:contains", _curie("PART", "l_partkey"), "infores:lineitem"))
        .unionByName(edge(line, _curie("ORDR", "l_orderkey"), "biolink:supplied_by", _curie("SUPP", "l_suppkey"), "infores:lineitem"))
        .unionByName(edge(cust, _curie("CUST", "c_custkey"), "biolink:located_in", _curie("NATN", "c_nationkey"), "infores:customer"))
        .unionByName(edge(supp, _curie("SUPP", "s_suppkey"), "biolink:located_in", _curie("NATN", "s_nationkey"), "infores:supplier"))
        .unionByName(edge(natn, _curie("NATN", "n_nationkey"), "biolink:part_of", _curie("REGN", "n_regionkey"), "infores:nation"))
        .unionByName(edge(part, _curie("PART", "p_partkey"), "biolink:subclass_of", _curie("BRND", "p_brand"), "infores:part"))
    )
