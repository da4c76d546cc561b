"""End-to-end KG construction pipeline (BASELINE.json north_star):

  pages --extract_text--> text --triples--> surface triples
        --link--> curie triples --canon--> canonical triples
        --materialize--> nodes + edges tables

Each stage is a separate snapshot: its output parquet tables + one
lineage commit (input and output fingerprints, row count, metrics). A
re-run fingerprints its inputs, finds the commit, checks that the
outputs are still the ones it names, and skips straight to the next
stage — the distributed replacement for the reference's
pickle-checkpointed multi-invocation flow (``Kuzu/kuzu_build_graph_csv.py:621-753``).

Scale design notes (measured at local[4] on a 4-vCPU host; written
for many executors):
- only (url, text) columns cross the Arrow boundary in the two UDF
  stages; everything else is JVM-side;
- the dictionary side is reduced to one winner map (alias -> curie)
  and broadcast into the link join (the reference holds the same
  data in one heap);
- the per-edge source aggregation is two-phase with an explicit salt
  on the hub-skewed (subject, predicate, object) key, so one hot
  entity cannot pin a reducer (AQE skew-join stays on as backstop);
- every stage writes with ``maxRecordsPerFile`` to bound file sizes.
"""

from __future__ import annotations

import argparse
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgeng.canon.cc import canonical_map
from kgeng.extract.text import extracted_text
from kgeng.extract.triples import extract_triples
from kgeng.graph.build import reorder_categories
from kgeng.io.lineage import LineageLog, fingerprint_paths
from kgeng.io.scanmeta import parquet_rows, read_parquet
from kgeng.io.sinks import write_partitioned
from kgeng.link.candidates import link_map, link_triples

SALT_BUCKETS = 16
MAX_PUBLICATIONS = 10
# extract fan-out: tasks per core (see stage_extract_text)
EXTRACT_WAVES = 3


class Pipeline:
    def __init__(self, spark: SparkSession, pages_path: str, dict_path: str, out_dir: str):
        self.spark = spark
        self.pages_path = pages_path
        self.dict_path = dict_path
        self.out = out_dir.rstrip("/")
        self.log = LineageLog(self.out)
        self.metrics: dict[str, dict] = {}

    # -- stage runner -------------------------------------------------
    def _stage(
        self, name: str, inputs: list[str], write, outputs: list[str] | None = None
    ) -> str:
        """Run one stage as one snapshot. ``write(out_path)`` puts every
        output of the stage on disk and returns its metrics (with
        ``rows``); one lineage commit then covers all of them.
        ``outputs`` lists every path ``write`` writes (default: the
        stage's own dir); the stage is skipped only while they still
        hold what its commit recorded. A crash inside ``write`` leaves
        the stage uncommitted, so the re-run redoes the whole stage —
        safe, because every write overwrites."""
        out_path = f"{self.out}/{name}"
        outputs = outputs or [out_path]
        fp = fingerprint_paths(*inputs, extra=name)
        prior = self.log.committed(name, fp, outputs)
        if prior is not None:
            self.metrics[name] = {"skipped": True, **prior["metrics"]}
            return out_path
        t0 = time.time()
        m = write(out_path)
        m["seconds"] = round(time.time() - t0, 3)
        self.log.commit(name, fp, m["rows"], outputs=outputs, metrics=m)
        self.metrics[name] = {"skipped": False, **m}
        return out_path

    @staticmethod
    def _write(df: DataFrame, path: str, partition_by=None) -> int:
        write_partitioned(df, path, partition_by=partition_by)
        return parquet_rows(path)

    def _read(self, path: str) -> DataFrame:
        return read_parquet(self.spark, path)

    # -- stages --------------------------------------------------------
    def stage_extract_text(self) -> str:
        def write(out_path):
            pages = self._read(self.pages_path)
            # Highly compressible corpora can land in far fewer input
            # splits than cores (maxPartitionBytes is a byte budget, not
            # a row budget) — spread the UDF stage across the cluster
            # explicitly.
            # 3 waves: every Python task pays a fixed start-up cost
            # whether or not it holds rows (~0.06 CPU-s with
            # kgeng.pyworker, ~0.22 more without), so fewer, longer
            # tasks win. 40k-page extract alone, local[4] on 4 vCPU, min of 3
            # per session, two sessions: 48 tasks 8.86 / 7.66 s
            # (33.8 / 28.1 CPU-s), 12 tasks 6.87 / 7.18 s (25.1 /
            # 26.0 CPU-s).
            target = self.spark.sparkContext.defaultParallelism * EXTRACT_WAVES
            text = pages.repartition(target, "url").select(
                "url", "lang", extracted_text(F.col("html")).alias("text")
            )
            return {"rows": self._write(text, out_path)}

        return self._stage("extract_text", [self.pages_path], write)

    def stage_triples(self, text_path: str) -> str:
        def write(out_path):
            pages = self._read(text_path).filter(F.col("lang") == "en")
            return {"rows": self._write(extract_triples(pages), out_path)}

        return self._stage("triples", [text_path], write)

    def stage_link_dims(self) -> str:
        """Materialize the corpus-independent winner map ``link_map``
        (every alias -> its curie). Runs concurrently with extraction —
        it only needs the dictionary."""

        def write(out_path):
            lmap = link_map(self._read(self.dict_path))
            return {"rows": self._write(lmap, f"{out_path}/link_map")}

        return self._stage("link_dims", [self.dict_path], write)

    def stage_link(self, triples_path: str, dims_path: str) -> str:
        def write(out_path):
            linked, unlinked = link_triples(
                self._read(triples_path), self._read(f"{dims_path}/link_map")
            )
            # persist the miss side-channel next to the stage output
            write_partitioned(unlinked, f"{self.out}/link_misses")
            return {"rows": self._write(linked, out_path)}

        outputs = [f"{self.out}/link", f"{self.out}/link_misses"]
        return self._stage("link", [triples_path, dims_path], write, outputs)

    def stage_canon_map(self) -> str:
        """Materialize the canonical map once (CC over the dictionary);
        both the canon rewrite and materialize reuse the snapshot."""

        def write(out_path):
            dictionary = self._read(self.dict_path)
            return {"rows": self._write(canonical_map(dictionary), out_path)}

        return self._stage("canon_map", [self.dict_path], write)

    def stage_canon(self, linked_path: str, cmap_path: str) -> str:
        def write(out_path):
            linked = self._read(linked_path)
            cmap = F.broadcast(self._read(cmap_path))
            s_map = cmap.withColumnRenamed("curie", "subject_curie").withColumnRenamed(
                "canonical_curie", "subject_canon"
            )
            o_map = cmap.withColumnRenamed("curie", "object_curie").withColumnRenamed(
                "canonical_curie", "object_canon"
            )
            canon = (
                linked.join(s_map, "subject_curie")
                .join(o_map, "object_curie")
                .select(
                    "url",
                    F.col("subject_canon").alias("subject"),
                    "predicate",
                    F.col("object_canon").alias("object"),
                )
            )
            return {"rows": self._write(canon, out_path)}

        return self._stage("canon", [linked_path, cmap_path], write)

    def stage_materialize(self, canon_path: str, cmap_path: str) -> tuple[str, str]:
        edges_out = f"{self.out}/edges"
        nodes_out = f"{self.out}/nodes"

        def write(_out_path):
            triples = self._read(canon_path)
            dictionary = self._read(self.dict_path)
            cmap = F.broadcast(self._read(cmap_path))
            edges = self._build_edges(triples)
            # ObjectHashAggregate falls back to SORT-BASED aggregation
            # after 128 in-memory keys by default, so both collect_set
            # phases of the salted publication agg paid a per-task sort
            # of their full input. The agg's per-group state is bounded
            # (MAX_PUBLICATIONS-sliced url arrays), so a hash budget
            # sized well above the (edges × salt) group count is safe —
            # measured 6.3 -> 3.0 s at local[4] (same-session A/B,
            # min-of-3) with identical output. Scoped to this stage:
            # on the query suite the effect is inside host noise, and
            # unbounded-state aggs elsewhere should keep the spilling
            # sort-based fallback.
            _fb_key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
            _fb_prev = self.spark.conf.get(_fb_key, None)
            self.spark.conf.set(_fb_key, str(1 << 20))
            try:
                n_edges = self._write(edges, edges_out, partition_by=["predicate"])
            finally:
                if _fb_prev is None:
                    self.spark.conf.unset(_fb_key)
                else:
                    self.spark.conf.set(_fb_key, _fb_prev)
            n_nodes = self._write(
                self._build_nodes(triples, dictionary, cmap),
                nodes_out,
                partition_by=["node_class"],
            )
            return {"rows": n_nodes + n_edges, "nodes": n_nodes, "edges": n_edges}

        self._stage("materialize", [canon_path, self.dict_path], write, [edges_out, nodes_out])
        return nodes_out, edges_out

    def _build_edges(self, triples: DataFrame) -> DataFrame:
        # -- edges: two-phase salted aggregation over the hub-skewed key.
        # publications are capped to the MAX_PUBLICATIONS smallest urls
        # in BOTH phases: the global smallest-10 are always among each
        # bucket's smallest-10 (distributed top-k merge), so the result
        # is identical to slicing after a full collect — but per-key
        # aggregation state is bounded at 16×10 urls instead of one url
        # per source page, which is what keeps a hub edge with millions
        # of source pages from blowing up the reducer.
        salted = triples.withColumn(
            "salt", F.pmod(F.xxhash64("url"), F.lit(SALT_BUCKETS))
        )
        partial = salted.groupBy("subject", "predicate", "object", "salt").agg(
            F.slice(F.array_sort(F.collect_set("url")), 1, MAX_PUBLICATIONS).alias("urls"),
            F.count("*").alias("n"),
        )
        return (
            partial.groupBy("subject", "predicate", "object")
            .agg(
                F.slice(
                    F.array_sort(F.array_distinct(F.flatten(F.collect_list("urls")))),
                    1,
                    MAX_PUBLICATIONS,
                ).alias("publications"),
                F.sum("n").alias("n_sources"),
            )
            .select(
                F.xxhash64("subject", "predicate", "object").alias("id"),
                "subject",
                "predicate",
                "object",
                F.lit("infores:kgeng").alias("primary_knowledge_source"),
                "publications",
                F.create_map(
                    F.lit("n_sources"), F.col("n_sources").cast("string")
                ).alias("properties"),
            )
        )

    def _build_nodes(
        self, triples: DataFrame, dictionary: DataFrame, cmap: DataFrame
    ) -> DataFrame:
        # -- nodes: canonical entities referenced by any edge
        referenced = (
            triples.select(F.col("subject").alias("id"))
            .unionByName(triples.select(F.col("object").alias("id")))
            .distinct()
        )
        members = dictionary.join(
            cmap, dictionary["curie"] == cmap["curie"], "inner"
        ).select(
            F.col("canonical_curie").alias("id"),
            dictionary["curie"].alias("member_curie"),
            "label",
            "categories",
            "equivalent_identifiers",
        )
        grouped = members.groupBy("id").agg(
            F.min(F.when(F.col("member_curie") == F.col("id"), F.col("label"))).alias("name"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("categories")))).alias("cat_raw"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("equivalent_identifiers")))).alias(
                "equivalent_identifiers"
            ),
            F.count("*").alias("n_members"),
        )
        # ids are unique by construction (one row per groupBy key; a
        # left-semi join never duplicates), so no post-write audit pass
        return (
            grouped.join(referenced, "id", "left_semi")
            .select(
                "id",
                "name",
                reorder_categories(F.col("cat_raw")).alias("category"),
                "equivalent_identifiers",
                F.create_map(F.lit("n_members"), F.col("n_members").cast("string")).alias(
                    "properties"
                ),
            )
            .withColumn("node_class", F.get(F.col("category"), 0))
        )

    # -- driver ---------------------------------------------------------
    def run(self) -> dict:
        t0 = time.time()
        # dictionary-side prep (link winner map + CC canonical map) is
        # independent of the pages corpus — overlap it with extraction.
        # Spark schedules jobs from both threads concurrently (FIFO
        # across free task slots). Leaving the ``with`` block waits for
        # the side thread on every exit, so a failed run never returns
        # while it still writes; ``result()`` re-raises its error.
        def dict_side() -> tuple[str, str]:
            return self.stage_link_dims(), self.stage_canon_map()

        with ThreadPoolExecutor(1) as side:
            fut = side.submit(dict_side)
            text_path = self.stage_extract_text()
            triples_path = self.stage_triples(text_path)
            dims_path, cmap_path = fut.result()
        linked_path = self.stage_link(triples_path, dims_path)
        canon_path = self.stage_canon(linked_path, cmap_path)
        nodes_out, edges_out = self.stage_materialize(canon_path, cmap_path)
        return {
            "nodes": nodes_out,
            "edges": edges_out,
            "triples": canon_path,
            "total_seconds": round(time.time() - t0, 3),
            "metrics": self.metrics,
        }


def run_pipeline(
    spark: SparkSession, pages_path: str, dict_path: str, out_dir: str
) -> dict:
    return Pipeline(spark, pages_path, dict_path, out_dir).run()


def main() -> None:
    ap = argparse.ArgumentParser(description="kgeng KG-construction pipeline")
    ap.add_argument("--pages", required=True)
    ap.add_argument("--dictionary", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()
    from kgeng.session import get_spark

    spark = get_spark("kgeng-pipeline", cpus=args.cpus)
    result = run_pipeline(spark, args.pages, args.dictionary, args.out)
    import json

    print(json.dumps(result))


if __name__ == "__main__":
    main()
