"""Schemas for every table the engine touches, plus the typed-header
schema reader.

The reference declares schema out-of-band in a tab-delimited typed
header file, one ``name:type`` token per column (parsing behavior at
reference ``Kuzu/kuzu_build_graph_csv.py:455-484``; the type lattice is
the match statement at ``:518-532``). Here the same header format is
parsed into a Spark ``StructType`` once, on the driver, and handed to
``spark.read.csv(schema=...)`` — schema inference is never used at
scale.
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Target graph schema (BASELINE.json north_star: id, category, predicate,
# subject/object curies, properties map)
# ---------------------------------------------------------------------------

NODES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),  # CURIE
        T.StructField("name", T.StringType(), True),
        T.StructField("category", T.ArrayType(T.StringType()), True),
        T.StructField("equivalent_identifiers", T.ArrayType(T.StringType()), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

EDGES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("subject", T.StringType(), False),  # CURIE
        T.StructField("predicate", T.StringType(), False),  # biolink CURIE
        T.StructField("object", T.StringType(), False),  # CURIE
        T.StructField("primary_knowledge_source", T.StringType(), True),
        T.StructField("publications", T.ArrayType(T.StringType()), True),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# ---------------------------------------------------------------------------
# Pipeline-input schema (BASELINE.json input_hint)
# ---------------------------------------------------------------------------

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("subject_surface", T.StringType(), False),
        T.StructField("predicate", T.StringType(), False),
        T.StructField("object_surface", T.StringType(), False),
        T.StructField("sentence_idx", T.IntegerType(), True),
    ]
)

MENTIONS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("curie", T.StringType(), False),
        T.StructField("start", T.IntegerType(), True),
        T.StructField("end", T.IntegerType(), True),
    ]
)

DICTIONARY_SCHEMA = T.StructType(
    [
        T.StructField("curie", T.StringType(), False),
        T.StructField("label", T.StringType(), True),
        T.StructField("aliases", T.ArrayType(T.StringType()), True),
    ]
)

# ---------------------------------------------------------------------------
# Typed-header parsing (reference S4)
# ---------------------------------------------------------------------------

# Header type tag -> Spark type. The reference maps `float` to a lossy
# 32-bit FLOAT (kuzu_build_graph_csv.py:523); we widen to double.
_TYPE_MAP: dict[str, T.DataType] = {
    "string": T.StringType(),
    "id": T.StringType(),
    "start_id": T.StringType(),
    "end_id": T.StringType(),
    "type": T.StringType(),
    "boolean": T.BooleanType(),
    "float": T.DoubleType(),
    "int": T.LongType(),
    # Array columns travel inside CSV cells as ';'-joined strings
    # (array_split_char at kuzu_build_graph_csv.py:459); the CSV reader
    # takes them as strings and kgeng.graph.build.split_packed_arrays
    # turns them into real arrays.
    "float[]": T.StringType(),
    "string[]": T.StringType(),
    "label": T.StringType(),
}

ARRAY_TAGS = {"float[]", "string[]", "label"}

# Columns the reference forces to int32 BY NAME, independent of the
# header tag (chem descriptors on nodes, one edge column —
# Kuzu/kuzu_build_graph_csv.py:109-110,122). The typed-header scan
# applies the same override when given these lists.
NODE_INT32_COLS: list[str] = [
    "lipinski", "arom_c", "sp3_c", "sp2_c", "sp_c", "halogen",
    "hetero_sp2_c", "rotb", "o_n", "oh_nh", "rgb", "fda_labels",
]
EDGE_INT32_COLS: list[str] = ["distance_to_feature"]


def sanitize_column_name(name: str) -> str:
    """Column-name sanitization, same contract as the reference
    (``re.sub(r'[^A-Za-z0-9_]', '_', name)`` at
    ``Kuzu/kuzu_build_graph_csv.py:516``)."""
    return re.sub(r"[^A-Za-z0-9_]", "_", name)


def parse_typed_header(
    header_line: str, force_int32: list[str] | None = None
) -> tuple[T.StructType, dict[str, str]]:
    """Parse one tab-delimited ``name:type`` header line into a
    ``StructType`` plus a ``{column: type_tag}`` map.

    ``force_int32`` narrows the named columns to 32-bit ints REGARDLESS
    of their header tag — the reference's by-name ``astype('int32')``
    override for the chem-descriptor columns
    (``Kuzu/kuzu_build_graph_csv.py:109-110,122``); pass
    ``NODE_INT32_COLS`` / ``EDGE_INT32_COLS`` for parity.

    Unknown tags raise immediately — the reference instead emits a
    poison ``"ERROR: No data type recognised"`` DDL string
    (``kuzu_build_graph_csv.py:531``); failing fast is strictly safer.
    """
    forced = {sanitize_column_name(c) for c in (force_int32 or [])}
    fields: list[T.StructField] = []
    tags: dict[str, str] = {}
    for token in header_line.rstrip("\n").split("\t"):
        if not token:
            continue
        name, _, tag = token.rpartition(":")
        if not name:  # bare column name, no tag -> string
            name, tag = tag, "string"
        tag_l = tag.strip().lower()
        if tag_l not in _TYPE_MAP:
            raise ValueError(f"No data type recognised for header tag {tag!r} (column {name!r})")
        col = sanitize_column_name(name.strip())
        if col in forced:
            fields.append(T.StructField(col, T.IntegerType(), True))
            tags[col] = "int"
        else:
            fields.append(T.StructField(col, _TYPE_MAP[tag_l], True))
            tags[col] = tag_l
    return T.StructType(fields), tags


def read_typed_header_file(
    path: str, force_int32: list[str] | None = None
) -> tuple[T.StructType, dict[str, str]]:
    """Read the first line of a ``*.tab-hdr`` file and parse it."""
    with open(path, encoding="utf-8") as fh:
        return parse_typed_header(fh.readline(), force_int32=force_int32)
