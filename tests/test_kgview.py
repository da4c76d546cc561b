"""The derived KG views: pinned outputs and the driver-side cost of
building them."""

from __future__ import annotations

import os

from kgeng.graph.kgview import kg_edges, kg_nodes
from tests.conftest import SF_DIR, df_content, py4j_commands

EDGES_SCHEMA = (
    '{"fields":[{"metadata":{},"name":"subject","nullable":true,"type":"string"},'
    '{"metadata":{},"name":"predicate","nullable":false,"type":"string"},'
    '{"metadata":{},"name":"object","nullable":true,"type":"string"},'
    '{"metadata":{},"name":"primary_knowledge_source","nullable":false,"type":"string"}],'
    '"type":"struct"}'
)
NODES_SCHEMA = (
    '{"fields":[{"metadata":{},"name":"id","nullable":true,"type":"string"},'
    '{"metadata":{},"name":"name","nullable":true,"type":"string"},'
    '{"metadata":{},"name":"category","nullable":false,'
    '"type":{"containsNull":false,"elementType":"string","type":"array"}},'
    '{"metadata":{},"name":"equivalent_identifiers","nullable":false,'
    '"type":{"containsNull":true,"elementType":"string","type":"array"}}],"type":"struct"}'
)
# (rows, decimal sum(xxhash64)) per scale factor, measured on the
# Column-builder views these replaced
CONTENT = {
    "sf0.001": {
        "edges": (13885, -1363843951418324677546),
        "nodes": (1915, -289228742482253856128),
    },
    "sf0.01": {
        "edges": (138625, -2569588811003653642283),
        "nodes": (18655, 54030919072283565049),
    },
}


def test_kg_views_keep_their_content_and_schema(spark):
    pinned = CONTENT[os.path.basename(SF_DIR.rstrip("/"))]
    edges, nodes = kg_edges(spark, SF_DIR), kg_nodes(spark, SF_DIR)
    assert edges.schema.json() == EDGES_SCHEMA
    assert nodes.schema.json() == NODES_SCHEMA
    assert df_content(edges) == pinned["edges"]
    assert df_content(nodes) == pinned["nodes"]


def test_warm_kg_view_construction_is_a_few_hundred_py4j_calls(spark):
    """Each branch is one ``selectExpr`` over SQL strings; building the
    same expressions from ``F.*`` calls took 2,531 commands."""
    kg_edges(spark, SF_DIR)
    kg_nodes(spark, SF_DIR)
    with py4j_commands(spark) as cmds:
        kg_edges(spark, SF_DIR)
        kg_nodes(spark, SF_DIR)
    assert 0 < cmds.n <= 400, cmds.n
