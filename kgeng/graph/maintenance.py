"""Maintenance / delete rewrites — the distributed twins of the
reference's "danger zone" Cypher (``docs/cypher-cmds.txt:108-115``):

- ``match (a)-[e]-() with a, e limit N detach delete a, e``
  → :func:`detach_delete_edge_batch`
- ``match (a) where node.degree_in(a) = 0 detach delete a``
  → :func:`degree0_nodes` + :func:`detach_delete`

A delete against immutable columnar storage is a REWRITE: anti-join
the victims out and write the survivors as a new parquet snapshot.
:func:`run_degree0_delete` materializes the
rewrite with a lineage row, so a re-run against unchanged input skips
recomputation — the same resume protocol every pipeline stage uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgeng.io.scanmeta import parquet_rows, read_parquet


def degree0_nodes(nodes: DataFrame, edges: DataFrame, limit: int | None = None) -> DataFrame:
    """Nodes with no incoming edge (``node.degree_in(a) = 0``),
    via left-anti join — the distributed NOT EXISTS. With ``limit``,
    the lowest ids are taken (deterministic at any parallelism; the
    reference's LIMIT takes arbitrary rows)."""
    orphans = nodes.join(
        edges.select(F.col("object").alias("id")).distinct(), "id", "left_anti"
    )
    if limit is not None:
        orphans = orphans.orderBy("id").limit(limit)
    return orphans


def detach_delete(
    nodes: DataFrame, edges: DataFrame, victim_ids: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """DETACH DELETE: remove the victim nodes and EVERY incident edge
    (either endpoint). Returns ``(nodes', edges')`` — lazy; callers
    materialize as a snapshot."""
    v = victim_ids.select("id").distinct()
    new_nodes = nodes.join(v, "id", "left_anti")
    new_edges = edges.join(
        v.select(F.col("id").alias("subject")), "subject", "left_anti"
    ).join(v.select(F.col("id").alias("object")), "object", "left_anti")
    return new_nodes, new_edges


def detach_delete_edge_batch(
    nodes: DataFrame, edges: DataFrame, limit: int
) -> tuple[DataFrame, DataFrame]:
    """The reference's batched cleanup (``with a, e limit N detach
    delete a, e``): take the first N edges in deterministic
    (subject, predicate, object) order, detach-delete their subject
    nodes (the ``a`` role) — which also removes every edge incident to
    those nodes — and drop the matched edges themselves."""
    batch = edges.orderBy("subject", "predicate", "object").limit(limit)
    victims = batch.select(F.col("subject").alias("id")).distinct()
    new_nodes, new_edges = detach_delete(nodes, edges, victims)
    # matched edges whose subject survived (victim set is subjects, so
    # none survive by construction; kept for contract clarity)
    new_edges = new_edges.join(
        batch.select("subject", "predicate", "object"),
        ["subject", "predicate", "object"],
        "left_anti",
    )
    return new_nodes, new_edges


def run_degree0_delete(
    spark: SparkSession,
    nodes_path: str,
    edges_path: str,
    out_dir: str,
    limit: int | None = None,
) -> dict:
    """Materialize the degree-0 detach-delete as a new snapshot under
    ``out_dir`` with a lineage commit. Re-running against the same
    input fingerprint, while ``out_dir``'s nodes and edges are still
    the ones committed, returns the committed record without touching
    Spark — resume safety."""
    from kgeng.io.lineage import LineageLog, fingerprint_paths

    log = LineageLog(out_dir)
    fp = fingerprint_paths(nodes_path, edges_path, extra=f"degree0:{limit}")
    outputs = [f"{out_dir}/nodes", f"{out_dir}/edges"]
    prior = log.committed("degree0_delete", fp, outputs)
    if prior is not None:
        return prior

    nodes = read_parquet(spark, nodes_path)
    edges = read_parquet(spark, edges_path)
    n_nodes_before = parquet_rows(nodes_path)
    n_edges_before = parquet_rows(edges_path)
    victims = degree0_nodes(nodes, edges, limit=limit).select("id")
    new_nodes, new_edges = detach_delete(nodes, edges, victims)
    new_nodes.write.mode("overwrite").parquet(f"{out_dir}/nodes")
    new_edges.write.mode("overwrite").parquet(f"{out_dir}/edges")
    n_nodes = parquet_rows(f"{out_dir}/nodes")
    n_edges = parquet_rows(f"{out_dir}/edges")
    return log.commit(
        "degree0_delete",
        fp,
        row_count=n_nodes,
        outputs=outputs,
        metrics={
            "n_nodes_before": n_nodes_before,
            "n_edges_before": n_edges_before,
            "n_nodes_after": n_nodes,
            "n_edges_after": n_edges,
            "n_deleted": n_nodes_before - n_nodes,
        },
    )

def upsert_nodes(
    snapshot: DataFrame, delta: DataFrame, key: str = "id"
) -> DataFrame:
    """SCD-1 MERGE of a node delta into a snapshot: last-write-wins by
    ``key``; delta-only rows insert, matched rows take the delta's
    payload, snapshot-only rows carry over. Returns the merged frame
    plus an ``action`` column (insert / update / noop / carry) so a
    materializing caller can write the new snapshot AND commit the
    merge statistics as lineage metrics in one pass. A NULL payload
    cell in the delta means "keep the snapshot's value" (per-column
    coalesce), so partial deltas work.

    A materializing caller rewrites the parquet dir (the same
    rewrite-as-delete protocol as :func:`run_degree0_delete`).

    Scale shape: a full-outer shuffle join on the node id — MERGE
    cannot broadcast (both sides must surface their unmatched rows),
    so the key hash-partitions both sides once; everything after the
    single join is per-row coalesce/when codegen. Row presence is
    tracked with marker literals, never payload nullity, so all-NULL
    payload rows still classify correctly."""
    payload = [c for c in snapshot.columns if c != key]
    s = snapshot.withColumn("_s", F.lit(1))
    d = delta.select(
        key, *[F.col(c).alias(f"_d_{c}") for c in payload]
    ).withColumn("_d", F.lit(1))
    j = s.join(d, key, "full_outer")
    changed = F.lit(False)
    for c in payload:
        # compare the post-coalesce value, so a NULL ("keep") delta
        # cell classifies as noop, not update
        changed = changed | ~F.coalesce(
            F.col(f"_d_{c}"), F.col(c)
        ).eqNullSafe(F.col(c))
    action = (
        F.when(F.col("_s").isNull(), F.lit("insert"))
        .when(F.col("_d").isNull(), F.lit("carry"))
        .when(changed, F.lit("update"))
        .otherwise(F.lit("noop"))
    )
    return j.select(
        key,
        *[F.coalesce(F.col(f"_d_{c}"), F.col(c)).alias(c) for c in payload],
        action.alias("action"),
    )
