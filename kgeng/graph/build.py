"""Reference-semantics KG build operators, as pure DataFrame expressions.

Every kernel in the reference's convert / create-lookups / bin stages
is re-expressed here with built-in ``pyspark.sql.functions`` only — no
UDFs — so the whole build stays inside whole-stage codegen.

Reference behaviors covered (SURVEY.md §2 numbering):

- O1  priority label reordering   (``Kuzu/kuzu_build_graph_csv.py:159-182``)
- F1  ``;``-packed array split + quote laundering  (``:141``)
- F2  two-step int coercion via float             (``:148``)
- J1  node-class lookup build                      (``:210-239``)
- J2  edge↔node class equi-joins with miss drop    (``:265-271,338-347``)
- A1  predicate → distinct (subj_class, obj_class) (``:244-271``)
- O2  edge-id assignment                           (``MemGraph/mg_build_merge_json.py:157``)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The reference's 25-entry priority list (public biolink class names,
# Kuzu/kuzu_build_graph_csv.py:29-34). The FIRST class from this list
# found in a node's category array becomes the node's primary class.
ORDERED_CATEGORIES: list[str] = [
    "biolink:GeneFamily",
    "biolink:Gene",
    "biolink:Protein",
    "biolink:SmallMolecule",
    "biolink:MolecularMixture",
    "biolink:ChemicalMixture",
    "biolink:PhenotypicFeature",
    "biolink:Disease",
    "biolink:SequenceVariant",
    "biolink:CellularComponent",
    "biolink:Cell",
    "biolink:AnatomicalEntity",
    "biolink:MolecularActivity",
    "biolink:BiologicalProcess",
    "biolink:Pathway",
    "biolink:OrganismTaxon",
    "biolink:Phenomenon",
    "biolink:Procedure",
    "biolink:Device",
    "biolink:OrganismAttribute",
    "biolink:ClinicalAttribute",
    "biolink:Activity",
    "biolink:InformationContentEntity",
    "biolink:ChemicalEntity",
    "biolink:BiologicalEntity",
]


def reorder_categories(categories: Column) -> Column:
    """O1 — dedup a category array and move the highest-priority class
    to the front.

    Reference contract (``reorder_node_classes``,
    ``Kuzu/kuzu_build_graph_csv.py:159-182``): only the HEAD element is
    a contract — it selects the node's primary class; the tail order in
    the reference is Python-set-iteration order (nondeterministic). We
    strengthen the contract to "head = highest-priority class present,
    tail sorted ascending" so output is deterministic at any
    parallelism (SURVEY.md §7.4 item 2).

    Pure expression: no UDF, stays in codegen.
    """
    distinct = F.array_distinct(categories)
    priority = F.array([F.lit(c) for c in ORDERED_CATEGORIES])
    # classes from the priority list present in this row, in priority order
    present = F.filter(priority, lambda p: F.array_contains(distinct, p))
    primary = F.get(present, 0)  # null when no priority class present
    reordered = F.concat(
        F.array(primary), F.array_sort(F.array_remove(distinct, primary))
    )
    return F.when(primary.isNull(), F.array_sort(distinct)).otherwise(reordered)


def split_packed_array(col: Column, launder: bool = True, element_type: str | None = None) -> Column:
    """F1 — turn a ``;``-packed CSV cell into a real array.

    The reference also launders single quotes to backticks inside array
    cells (``str(x).replace("'", '`')``,
    ``Kuzu/kuzu_build_graph_csv.py:141``) because its downstream CSV
    quoting would otherwise break; we reproduce that only when
    ``launder=True`` for byte-compat tests. Empty/null cells become
    empty arrays (the reference writes ``[]``).
    """
    arr = F.split(col, ";")
    if launder:
        arr = F.transform(arr, lambda x: F.regexp_replace(x, "'", "`"))
    if element_type:
        arr = F.transform(arr, lambda x: x.try_cast(element_type))
    empty = F.array().cast(f"array<{element_type or 'string'}>")
    return F.when(col.isNull() | (col == ""), empty).otherwise(arr)


def int_coerce(col: Column) -> Column:
    """F2 — the reference's two-step int cast: ``str(int(float(x)))``
    (``Kuzu/kuzu_build_graph_csv.py:148``), so a CSV cell ``"3.0"``
    becomes integer ``3``. A direct string→long cast would reject it.
    (``try_cast`` so malformed/empty cells null out instead of failing
    the job under ANSI mode — the reference's PERMISSIVE analogue.)
    """
    return col.try_cast("double").try_cast("long")


def launder_quotes(col: Column) -> Column:
    """Quote laundering ``'`` → `` ` `` on a scalar string (F1's scalar
    half, ``Kuzu/kuzu_build_graph_csv.py:141``)."""
    return F.regexp_replace(col, "'", "`")


def primary_category(categories: Column) -> Column:
    """Head of :func:`reorder_categories` without building the array:
    the reordered head is the highest-priority class present, else the
    ascending-sorted distinct head — so the per-row array_remove +
    concat (whose output the lookup immediately discards past element
    0) is elided. Identical to ``F.get(reorder_categories(c), 0)`` by
    case analysis on the same ``when`` branches."""
    distinct = F.array_distinct(categories)
    priority = F.array([F.lit(c) for c in ORDERED_CATEGORIES])
    primary = F.get(F.filter(priority, lambda p: F.array_contains(distinct, p)), 0)
    return F.when(primary.isNull(), F.get(F.array_sort(distinct), 0)).otherwise(primary)


def node_class_lookup(nodes: DataFrame, reorder: bool = True) -> DataFrame:
    """J1 — the node→primary-class lookup.

    The reference materializes this as a 9.8M-entry in-heap dict
    (``Kuzu/kuzu_build_graph_csv.py:210-239``); here it is simply a
    two-column DataFrame ``(id, node_class)``, which Spark will
    broadcast when it fits (the in-RAM dict ≈ broadcast hash join) and
    shuffle-join when it doesn't — exactly the scale-out the reference
    lacks.
    """
    if reorder:
        cls = primary_category(F.col("category"))
    else:
        cls = F.get(F.col("category"), 0)
    return nodes.select(F.col("id"), cls.alias("node_class"))


def resolve_edge_classes(
    edges: DataFrame,
    class_lookup: DataFrame,
    broadcast_lookup: bool = False,
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """J2 — resolve subject/object classes for every edge via two
    equi-joins; edges whose endpoints are unknown are DROPPED, exactly
    like the reference (``Kuzu/kuzu_build_graph_csv.py:342-347`` skips
    the row and logs a warning).

    Returns ``(resolved, dropped)`` — the dropped side is the
    warning/metrics side-channel, filtered from the same join.

    ``materialize=True`` localCheckpoints the shared join product
    before the two filters. Use it when BOTH sides feed one lazy
    query: Spark re-executes a subtree once per reference (no
    common-subexpression reuse — measured 3× full join executions in
    kg_build_audit's plan, 63 scans for 7 sources), so a caller that
    consumes resolved AND dropped lazily pays the join per branch.
    The pipeline itself snapshots stages to parquet instead (the
    100 TB-honest form); the flag is for single-query composition.
    Lifecycle: the cached blocks are MEMORY_AND_DISK (evictable under
    pressure) and Spark's ContextCleaner unpersists them once the
    returned DataFrames are garbage-collected — callers that loop
    should still narrow ``edges`` to the columns they need first."""
    lk = class_lookup
    if broadcast_lookup:
        lk = F.broadcast(lk)
    s = lk.withColumnRenamed("id", "_sid").withColumnRenamed("node_class", "subject_class")
    o = lk.withColumnRenamed("id", "_oid").withColumnRenamed("node_class", "object_class")
    joined = edges.join(s, edges["subject"] == F.col("_sid"), "left").join(
        o, edges["object"] == F.col("_oid"), "left"
    )
    if materialize:
        joined = joined.localCheckpoint(eager=False)
    resolved = (
        joined.filter(F.col("_sid").isNotNull() & F.col("_oid").isNotNull())
        .drop("_sid", "_oid")
    )
    dropped = (
        joined.filter(F.col("_sid").isNull() | F.col("_oid").isNull())
        .drop("_sid", "_oid")
    )
    return resolved, dropped


def predicate_class_pairs(resolved_edges: DataFrame) -> DataFrame:
    """A1 — ``predicate → distinct (subject_class, object_class)`` set,
    the aggregation that drives REL-table DDL in the reference
    (``defaultdict(set)`` at ``Kuzu/kuzu_build_graph_csv.py:244-271``).

    ``collect_set`` of a struct is the exact distributed analogue; the
    map-side partial aggregation makes this a single small shuffle.
    The set is sorted so output is deterministic (reference iterates
    ``sorted(...)`` at ``:429,579``).
    """
    return (
        resolved_edges.groupBy("predicate")
        .agg(
            F.array_sort(
                F.collect_set(F.struct(F.col("subject_class"), F.col("object_class")))
            ).alias("class_pairs")
        )
    )


def assign_edge_ids(edges: DataFrame) -> DataFrame:
    """O2 — edge-id assignment.

    The reference uses a sequential counter
    (``MemGraph/mg_build_merge_json.py:157``) — inherently
    single-process. The distributed replacement is a content hash
    (xxhash64 of the identifying columns): deterministic across runs
    and cluster sizes, which the resume protocol needs.
    """
    ident = [c for c in ("subject", "predicate", "object", "primary_knowledge_source") if c in edges.columns]
    return edges.withColumn("id", F.xxhash64(*ident))
