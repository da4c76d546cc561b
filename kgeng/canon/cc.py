"""Connected components via alternating large-star / small-star
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14) — the standard O(log n)-round DataFrame formulation.

Used for entity canonicalization: nodes are entity CURIEs, edges are
shared equivalent-identifier pairs; each component's minimum CURIE
becomes the canonical id.

This is a driver-side loop of joins — no Catalyst rule can express
iteration — so each round materializes via ``localCheckpoint`` to cut
lineage (SURVEY.md §4 custom-work item 3). Convergence is detected by
edge-set stability (count + checksum), bounded by ``CC_MAX_ROUNDS``.

Ids are compared with min(); any totally ordered id type works.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    und = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = und.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
    return (
        und.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges toward smaller ids, then connect all smaller
    neighbors (and u itself) to the group minimum."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = oriented.join(mins, "u").select(
        F.col("v").alias("node"), F.col("m")
    ).unionByName(mins.select(F.col("u").alias("node"), F.col("m")))
    return (
        nbrs.filter(F.col("node") != F.col("m"))
        .select(F.col("node").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _signature(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return row["n"], int(row["h"])


# Size gate for the driver-side union-find fast path: a deduped edge
# set at or below this count (a few MB collected) is solved in one
# collect + one createDataFrame instead of O(log n) star rounds, each
# of which costs several shuffles, an eager checkpoint and a
# convergence collect — pure stage overhead when the input is
# dimension-sized (the 400-entity bench dictionary spent 4-7 s here).
# Above the gate the distributed large-star/small-star path runs
# unchanged, so a billion-entity dictionary never touches the driver.
SMALL_CC_EDGES = 1 << 17
# star rounds are O(log n); a run that needs more has a bug
CC_MAX_ROUNDS = 25


def _driver_cc(cur: DataFrame) -> DataFrame:
    """Exact union-find twin of the distributed loop for gate-sized
    inputs: every id appearing in ``cur`` maps to the minimum id
    reachable — identical rows to the star-round fixpoint."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for row in cur.collect():
        u, v = row[0], row[1]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by MIN id, so every root IS its component's minimum
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    rows = [(x, find(x)) for x in parent]
    schema = T.StructType(
        [
            T.StructField("id", cur.schema["u"].dataType),
            T.StructField("component", cur.schema["v"].dataType),
        ]
    )
    return cur.sparkSession.createDataFrame(rows, schema)


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(u, v) -> assignments(id, component) where component is the
    minimum id reachable; every id appearing in edges is assigned."""
    all_nodes = (
        edges.select(F.col("u").alias("id"))
        .unionByName(edges.select(F.col("v").alias("id")))
        .distinct()
    )
    cur = edges.select("u", "v").filter(F.col("u") != F.col("v")).distinct()
    cur = cur.localCheckpoint(eager=True)
    if cur.count() <= SMALL_CC_EDGES:
        # the deduped edge set is already materialized; one collect
        # replaces the whole star-round loop (identical assignments)
        return _driver_cc(cur)
    prev_sig = None
    for _ in range(CC_MAX_ROUNDS):
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        sig = _signature(cur)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(f"connected_components did not converge in {CC_MAX_ROUNDS} rounds")
    # at convergence every edge is (node -> component root)
    assign = cur.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = all_nodes.join(assign, "id", "left_anti").select(
        "id", F.col("id").alias("component")
    )
    return assign.unionByName(roots)


def canonical_map(
    dictionary: DataFrame, name_blocking: bool = False, name_threshold: float = 0.8
) -> DataFrame:
    """dictionary(curie, equivalent_identifiers) ->
    (curie, canonical_curie).

    Entities sharing any equivalent identifier merge into one
    component; the minimum member CURIE is canonical. Identifier
    groups become star edges (member -> group min) so the CC input is
    |ids| edges, not |group|² pairs.

    ``name_blocking=True`` additionally merges entities whose LABELS
    are near-duplicates (character-shingle MinHash-LSH candidates +
    exact Jaccard ≥ ``name_threshold`` — kgeng.canon.lsh), the
    north-star's second canonicalization path. Off by default: id
    merges are exact; name merges are a policy with recall/precision
    tradeoffs the caller owns.
    """
    pairs = dictionary.select(
        F.col("curie"), F.explode("equivalent_identifiers").alias("eq_id")
    )
    grp_min = pairs.groupBy("eq_id").agg(F.min("curie").alias("grp_min"))
    star = (
        pairs.join(grp_min, "eq_id")
        .select(F.col("curie").alias("u"), F.col("grp_min").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    if name_blocking:
        from kgeng.canon.lsh import blocking_edges

        star = star.unionByName(blocking_edges(dictionary, name_threshold)).distinct()
    comp = connected_components(star)
    singletons = dictionary.select("curie").join(
        comp.select(F.col("id").alias("curie")), "curie", "left_anti"
    ).select("curie", F.col("curie").alias("canonical_curie"))
    return comp.select(
        F.col("id").alias("curie"), F.col("component").alias("canonical_curie")
    ).unionByName(singletons)
