"""Multimodal column handling: opaque ``binary`` payloads + typed
metadata, with feature extraction as Arrow-batched UDFs.

No image/audio codec is a dependency, so nothing here decodes pixels:
the feature extractor is a deterministic md5-derived stand-in. The
Spark-side plumbing is real and tested: binary columns, schema,
``mapInPandas`` batch shape, and partitioning are exactly what a
libjpeg/ffmpeg-backed kernel would drop into.

The ``media`` corpus is derived deterministically from ``documents``
(payload = utf-8 bytes of the text), so metadata ops have a DuckDB
oracle.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgeng.io.scanmeta import read_parquet

FEATURE_DIM = 8

FEATURES_SCHEMA = "doc_id bigint, n_bytes int, feature array<float>"


def media_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> media(doc_id, payload binary, mime)."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.concat(F.lit("image/"), F.col("source")).alias("mime"),
    )


def mm_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over the binary column — pure JVM expressions
    (length/md5 on binary), no Python."""
    m = media_corpus(spark, sf_dir)
    return m.select(
        "doc_id",
        F.length("payload").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
        "mime",
    )


def _feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        feats, sizes = [], []
        for payload in pdf["payload"]:
            raw = bytes(payload) if payload is not None else b""
            digest = hashlib.md5(raw).digest()
            feats.append([(digest[i] - 128) / 128.0 for i in range(FEATURE_DIM)])
            sizes.append(len(raw))
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "n_bytes": sizes, "feature": feats}
        )


def extract_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads via ``mapInPandas`` —
    the deterministic stand-in for a vision encoder. Only (doc_id,
    payload) cross the Arrow boundary. Returns the real
    ``array<float>`` feature column (the shape a downstream ANN stage
    consumes)."""
    m = media_corpus(spark, sf_dir).select("doc_id", "payload")
    return m.mapInPandas(_feature_batches, schema=FEATURES_SCHEMA)


RESIZE_TARGET = 64  # bytes out per payload (the WxH analogue)
FRAME_BYTES = 256  # fixed-size "frame" stride in the fake container
FRAME_SAMPLE_EVERY = 4  # keep every 4th frame

RESIZE_SCHEMA = "doc_id bigint, resized binary, n_bytes_out int, checksum bigint"
FRAMES_SCHEMA = (
    "doc_id bigint, frame_idx int, n_frames_total int, frame binary"
)


def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Nearest-neighbor byte resample to RESIZE_TARGET bytes — the
    codec-free stand-in for pixel resize (same binary-in/binary-out
    mapInPandas shape a PIL kernel drops into); handles both down-
    and up-sampling (payloads shorter than the target repeat bytes,
    exactly like nearest-neighbor upscale)."""
    for pdf in batches:
        out, sizes, sums = [], [], []
        for payload in pdf["payload"]:
            raw = bytes(payload) if payload is not None else b""
            n = len(raw)
            if n == 0:
                resized = b""
            elif n == 1:
                resized = raw * RESIZE_TARGET
            else:
                resized = bytes(
                    raw[(i * (n - 1)) // (RESIZE_TARGET - 1)]
                    for i in range(RESIZE_TARGET)
                )
            out.append(resized)
            sizes.append(len(resized))
            sums.append(sum(resized))
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "resized": out, "n_bytes_out": sizes, "checksum": sums}
        )


def resize_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    # empty payloads are skipped on BOTH engines (an empty resize
    # target is undefined; the oracle's closed-form assumes n >= 1)
    m = media_corpus(spark, sf_dir).select("doc_id", "payload").filter(
        F.length("payload") > 0
    )
    return m.mapInPandas(_resize_batches, schema=RESIZE_SCHEMA)


def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded surface for :func:`resize_payloads`: output size and the
    byte-sum checksum of the resampled payload — the oracle recomputes
    the same nearest-neighbor index arithmetic over the (ASCII) text
    with integer math, covering the kernel end-to-end without hashing
    binary cells."""
    return resize_payloads(spark, sf_dir).select("doc_id", "n_bytes_out", "checksum")


def _frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Frame sampling over the fake fixed-stride container: split the
    payload into FRAME_BYTES frames, keep every FRAME_SAMPLE_EVERY-th —
    the 1-row-in/k-rows-out mapInPandas shape an ffmpeg keyframe
    sampler drops into."""
    for pdf in batches:
        rows: dict[str, list] = {
            "doc_id": [], "frame_idx": [], "n_frames_total": [], "frame": []
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            raw = bytes(payload) if payload is not None else b""
            total = (len(raw) + FRAME_BYTES - 1) // FRAME_BYTES
            for k in range(0, total, FRAME_SAMPLE_EVERY):
                rows["doc_id"].append(doc_id)
                rows["frame_idx"].append(k)
                rows["n_frames_total"].append(total)
                rows["frame"].append(raw[k * FRAME_BYTES : (k + 1) * FRAME_BYTES])
        yield pd.DataFrame(rows)


def sample_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    # empty payloads have zero frames and would emit no row at all —
    # skipped symmetrically (the oracle filters length > 0 too)
    m = media_corpus(spark, sf_dir).select("doc_id", "payload").filter(
        F.length("payload") > 0
    )
    return m.mapInPandas(_frame_batches, schema=FRAMES_SCHEMA)


def mm_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded surface for :func:`sample_frames`: per doc, total and
    sampled frame counts plus the md5 of frame 0 — the oracle derives
    all three in closed form from the text length (payload = utf-8 of
    ASCII text, so byte arithmetic is char arithmetic)."""
    f = sample_frames(spark, sf_dir)
    return f.groupBy("doc_id").agg(
        F.max("n_frames_total").cast("long").alias("n_frames_total"),
        F.count("*").alias("n_frames_sampled"),
        F.max(F.when(F.col("frame_idx") == 0, F.md5("frame"))).alias("first_frame_md5"),
    )


def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded surface for :func:`extract_features`: the float feature
    vector is re-quantized to its source bytes (feature = (b-128)/128
    is exact in float32, so ``round(x*128)+128`` recovers b exactly)
    and serialized — the driver's comparator cannot hash list cells,
    and fixed-point ints avoid cross-engine float formatting."""
    feats = extract_features(spark, sf_dir)
    quant = F.transform(
        F.col("feature"),
        lambda x: (F.round(x.cast("double") * 128) + 128).cast("int").cast("string"),
    )
    return feats.select(
        "doc_id", "n_bytes", F.concat_ws(",", quant).alias("feature_q")
    )
