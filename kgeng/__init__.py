"""kgeng — a PySpark-native knowledge-graph construction engine.

A from-scratch rebuild of the capabilities of
``PhillipsOwen/graph-db-parsers`` (KG bulk-load ETL for Kuzu /
MemGraph / Apache AGE) as an idiomatic Spark DataFrame pipeline:

- ``kgeng.graph``    — reference-semantics KG build operators
  (label reordering, typed casts, class-lookup joins, predicate
  aggregation, partitioned materialization).
- ``kgeng.queries``  — the read-side query corpus documented in the
  reference's Cypher command files, as DataFrame functions + ANSI-SQL
  oracles.
- ``kgeng.extract``  — html→text and triple extraction (Arrow/pandas
  UDFs, batched — no per-row Python).
- ``kgeng.link``     — TF-IDF cosine candidate ranking for entity
  linking.
- ``kgeng.canon``    — connected components (large-star/small-star)
  and MinHash-LSH blocking for canonicalization.
- ``kgeng.textops``  — web-scale training-data ops: dedup family,
  similarity search, text quality/language analysis.
- ``kgeng.io``       — sources/sinks + snapshot/lineage resume
  protocol (parquet snapshots, one JSON commit per stage).
- ``kgeng.pipeline`` — the staged, resumable end-to-end driver.

Everything here derives from public knowledge only: the Apache Spark
API and the reference repo read at /root/reference.
"""

__version__ = "0.1.0"
