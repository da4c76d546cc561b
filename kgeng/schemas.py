"""The typed-header schema reader.

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
    (``Kuzu/kuzu_build_graph_csv.py:109-110,122``; the column lists
    are in SURVEY.md).

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
