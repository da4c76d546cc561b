"""The KG-build workload: corpus, golden triples, one build with its
correctness gates, and the resume check."""

from __future__ import annotations

import gzip
import os
import shutil
import time
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass
from functools import partial

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from kgeng import fixtures
from kgeng.pipeline import Pipeline

MIN_PRECISION_RECALL = 0.95


@dataclass(frozen=True)
class Corpus:
    pages: int
    mult: int
    filler_kb: int
    gzip_html: bool


# ~20 KB gzip-per-cell pages (WARC shape): extraction (gunzip + tag
# scan) is the largest stage, and link/canon/materialize and the stage
# writes follow on the same build. At 40k pages the dictionary side
# thread (link dims + canon map, which runs beside extraction) ends
# before extract + triples do, so a change to either stage moves the
# build's wall instead of shortening the main thread's wait for it.
CORPUS = Corpus(pages=40_000, mult=5, filler_kb=18, gzip_html=True)
# Tiny inputs for the benchmark's own tests, and the warm-up build's
# corpus: a cold build pays JIT, codegen and Python worker start once,
# whatever its size.
TINY_CORPUS = Corpus(pages=150, mult=5, filler_kb=18, gzip_html=True)


def page_range(seed: int, n_pages: int) -> range:
    """The seed offsets the page-index range, so every seed builds a
    different corpus of the same size and shape."""
    lo = (abs(seed) % 100_000) * n_pages
    return range(lo, lo + n_pages)


def _html(c: Corpus, i: int) -> bytes:
    h = fixtures.page_html(i, c.mult, c.filler_kb)
    return gzip.compress(h, compresslevel=6, mtime=0) if c.gzip_html else h


def write_corpus(path: str, pages: range, c: Corpus, workers: int = 1) -> str:
    """Pages from the public fixture page functions, in the shape of
    ``fixtures.write_pages`` but over an arbitrary index range. The
    html cells are rendered by ``workers`` processes."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if workers > 1:
        with ProcessPoolExecutor(workers) as pool:
            htmls = list(pool.map(partial(_html, c), pages, chunksize=max(1, len(pages) // (4 * workers))))
    else:
        htmls = [_html(c, i) for i in pages]
    tbl = pa.table(
        {
            "url": pa.array([fixtures.page_url(i) for i in pages], pa.string()),
            "warc_ts": pa.array([fixtures.page_warc_ts(i) for i in pages], pa.timestamp("us")),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array([fixtures.page_text(i, c.mult) for i in pages], pa.string()),
            "lang": pa.array([fixtures.page_lang(i) for i in pages], pa.string()),
        }
    )
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)
    return path


def golden_triples(pages: range, mult: int) -> set[tuple[str, str, str]]:
    """Closed-form canonical (subject, predicate, object) set of the
    English pages in ``pages``."""
    curie = lambda k: fixtures.entity_curie(fixtures.canonical_of(k))  # noqa: E731
    return {
        (curie(s), pred, curie(o))
        for i in pages
        if fixtures.page_lang(i) == "en"
        for (s, _verb, pred, o) in fixtures.page_sentence_specs(i, mult)
    }


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def rows(path: str) -> int:
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def check_build(res: dict, golden: set) -> list[str]:
    """Correctness gates for one fresh build; returns the failures."""
    errors = []
    skipped = sorted(k for k, v in res["metrics"].items() if v.get("skipped"))
    if skipped:
        errors.append(f"stages skipped on a fresh output dir: {skipped}")
    canon = pq.read_table(res["triples"], columns=["subject", "predicate", "object"])
    got = set(zip(*(canon.column(c).to_pylist() for c in ("subject", "predicate", "object"))))
    hit = len(got & golden)
    precision = hit / len(got) if got else 0.0
    recall = hit / len(golden) if golden else 0.0
    if min(precision, recall) < MIN_PRECISION_RECALL:
        errors.append(f"triples P={precision:.3f} R={recall:.3f} < {MIN_PRECISION_RECALL}")
    edges = ds.dataset(res["edges"], format="parquet", partitioning="hive").to_table(
        columns=["subject", "object"]
    )
    nodes = set(
        ds.dataset(res["nodes"], format="parquet", partitioning="hive")
        .to_table(columns=["id"])
        .column("id")
        .to_pylist()
    )
    ends = set(edges.column("subject").to_pylist()) | set(edges.column("object").to_pylist())
    dangling = ends - nodes
    if dangling:
        errors.append(f"{len(dangling)} edge endpoints resolve to no node")
    return errors


def build_once(
    pipeline_cls: type[Pipeline], spark, pages: str, dic: str, out_dir: str, golden: set, cpu_clock
) -> dict:
    """One build into a fresh output dir, then its correctness gates.
    ``wall_s`` and ``cpu_s`` cover the build only."""
    shutil.rmtree(out_dir, ignore_errors=True)
    c0, t0 = cpu_clock(), time.perf_counter()
    res = pipeline_cls(spark, pages, dic, out_dir).run()
    wall, cpu = time.perf_counter() - t0, cpu_clock() - c0
    return {
        "wall_s": wall,
        "cpu_s": cpu,
        "triples": res["metrics"]["canon"]["rows"],
        "stored_bytes": dir_bytes(out_dir),
        "errors": check_build(res, golden),
        "result": res,
    }


def resume_once(pipeline_cls: type[Pipeline], spark, pages: str, dic: str, out_dir: str) -> dict:
    """Re-run over a committed output dir: every stage must skip."""
    t0 = time.perf_counter()
    res = pipeline_cls(spark, pages, dic, out_dir).run()
    wall = time.perf_counter() - t0
    ran = sorted(k for k, v in res["metrics"].items() if not v.get("skipped"))
    return {"wall_s": wall, "errors": [f"resume re-ran stages: {ran}"] if ran else []}
