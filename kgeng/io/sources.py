"""Readers/writers for the reference's on-disk formats.

- KGX CSV with an out-of-band tab-delimited typed header (reference
  scans S1/S2/S4: ``pd.read_csv`` / ``csv.reader`` +
  ``Kuzu/kuzu_build_graph_csv.py:455-484``) — here one schema-driven
  ``spark.read.csv`` with packed-array/int-coercion post-casts, so the
  whole scan stays columnar and prunable.
- KGX JSONL (S3, ``MemGraph/mg_build_merge_json.py:75-109``).
- CSV sink (S5) with arrays re-packed as ``;`` cells.
- Merged-JSON sink (S7, ``mg_build_merge_json.py:90-170``): the
  MemGraph ``import_util.json`` shape — every record key-remapped and
  nested under ``properties`` (P4/P5), edges given ids (O2). Emitted
  as JSONL; the reference's single-array framing is a byte-format
  detail of its in-DB loader, documented divergence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgeng.graph.build import assign_edge_ids, int_coerce, split_packed_array
from kgeng.schemas import ARRAY_TAGS, read_typed_header_file


def read_kgx_csv(
    spark: SparkSession,
    csv_path: str,
    header_path: str,
    launder_quotes: bool = False,
    force_int32: list[str] | None = None,
) -> DataFrame:
    """Typed-header-driven CSV scan: header file -> StructType ->
    ``spark.read.csv(schema=...)`` (never inferSchema), then packed
    array cells become real arrays and float-string int cells coerce
    via the two-step cast. ``force_int32`` columns are narrowed to
    32-bit ints by NAME regardless of tag (the reference's chem
    descriptor override)."""
    schema, tags = read_typed_header_file(header_path, force_int32=force_int32)
    # int-tagged columns arrive as float-strings ("3.0") in the
    # reference's dumps — read them as strings and coerce after (the
    # two-step cast), or the CSV parser nulls them
    from pyspark.sql import types as T

    read_schema = T.StructType(
        [
            T.StructField(f.name, T.StringType() if tags[f.name] == "int" else f.dataType, True)
            for f in schema.fields
        ]
    )
    df = spark.read.csv(
        csv_path, schema=read_schema, header=True, multiLine=True, escape='"'
    )
    from kgeng.schemas import sanitize_column_name

    forced = {sanitize_column_name(c) for c in (force_int32 or [])}
    for col, tag in tags.items():
        if tag in ARRAY_TAGS:
            elem = "double" if tag == "float[]" else None
            df = df.withColumn(
                col, split_packed_array(F.col(col), launder=launder_quotes, element_type=elem)
            )
        elif tag == "int":
            coerced = int_coerce(F.col(col))
            if col in forced:
                coerced = coerced.cast("int")
            df = df.withColumn(col, coerced)
    return df


def write_kgx_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """CSV sink (S5): array columns re-packed as ``;``-joined cells
    (the reference's array_split_char convention). ``partition_by``
    fans the files out into ``col=value`` directories (S6's per-class
    bin layout), which is what the COPY import manifest globs."""
    out = df
    for field in df.schema.fields:
        if field.dataType.typeName() == "array":
            out = out.withColumn(
                field.name, F.array_join(F.col(field.name).cast("array<string>"), ";")
            )
    w = out.write.mode(mode).option("header", True)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.csv(path)


def read_kgx_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSONL scan (S3). Without an explicit schema Spark performs the
    reference's two-pass key-union inference
    (``mg_build_individual_json.py:131-153``) natively."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_merged_json(
    nodes: DataFrame, edges: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Merged MemGraph-import sink (S7 + P4/P5 + O2): nodes become
    ``{type: "node", id, labels, properties: {...}}``, edges become
    ``{type: "relationship", id, start, end, label, properties:
    {...}}``, unioned into one dataset.

    Key remaps mirror ``mg_build_merge_json.py:69,72``:
    ``category -> labels``, ``subject -> start``, ``object -> end``,
    ``predicate -> label``.
    """
    node_prop_cols = [c for c in nodes.columns if c not in ("id", "category")]
    node_recs = nodes.select(
        F.lit("node").alias("type"),
        F.col("id"),
        F.col("category").alias("labels"),
        F.to_json(F.struct(*node_prop_cols)).alias("properties_json"),
    )
    e = assign_edge_ids(edges)
    edge_prop_cols = [
        c for c in e.columns if c not in ("id", "subject", "object", "predicate")
    ]
    edge_recs = e.select(
        F.lit("relationship").alias("type"),
        F.col("id").cast("string").alias("id"),
        F.col("subject").alias("start"),
        F.col("object").alias("end"),
        F.col("predicate").alias("label"),
        F.to_json(F.struct(*edge_prop_cols)).alias("properties_json"),
    )
    merged = node_recs.unionByName(edge_recs, allowMissingColumns=True)
    merged.write.mode(mode).json(path)


def write_merged_json_array(
    nodes: DataFrame, edges: DataFrame, out_file: str, tmp_dir: str | None = None
) -> int:
    """S7 FULL parity: the MemGraph ``import_util.json`` single-array
    framing (``mg_build_merge_json.py:90-170`` wraps every record in
    one top-level JSON array).

    Single-array framing is inherently one file, so the distributed
    part is the JSONL write above; the framing pass streams the part
    files into ``out_file`` line-by-line on the driver (no collect, no
    row parsing — bounded by local disk, an export artifact for
    drive-the-same-DB parity, not a cluster-scale sink). Returns the
    record count."""
    import glob as _glob
    import os
    import shutil

    tmp = tmp_dir or out_file + ".jsonl.tmp"
    write_merged_json(nodes, edges, tmp)
    try:
        n = 0
        with open(out_file, "w", encoding="utf-8") as out:
            out.write("[\n")
            for part in sorted(_glob.glob(os.path.join(tmp, "part-*"))):
                with open(part, encoding="utf-8") as fh:
                    for line in fh:
                        line = line.rstrip("\n")
                        if not line:
                            continue
                        if n:
                            out.write(",\n")
                        out.write(line)
                        n += 1
            out.write("\n]\n")
    finally:
        # the JSONL intermediate is per-call scratch; leaving it would
        # accumulate stale part files across runs
        shutil.rmtree(tmp, ignore_errors=True)
    return n
