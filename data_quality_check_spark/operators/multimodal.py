"""Multimodal column plumbing: image/audio/video as opaque binary columns.

The decode step itself is STUBBED (no image/audio libraries in this
environment — see DecodeNotAvailable), but everything Spark-side is real
and tested: the schema contract, the Arrow batch shape through mapInPandas,
partition sizing for large binary payloads, and a deterministic fake
feature extractor that stands in for a real decoder so downstream operators
(dedup over media fingerprints, embedding similarity) can be exercised
end-to-end.

Swap `fake_features` for a real decoder (PIL/torchaudio/ffmpeg) on a
cluster with the libraries installed; nothing else changes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..functions.udfs import guard_zip_rereads

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),      # image | audio | video
    T.StructField("mime", T.StringType()),
    T.StructField("payload", T.BinaryType()),    # opaque encoded bytes
    T.StructField("width", T.IntegerType()),     # typed metadata (nullable)
    T.StructField("height", T.IntegerType()),
    T.StructField("duration_ms", T.IntegerType()),
])


class DecodeNotAvailable(NotImplementedError):
    """Raised by real_decode: media codecs are not installed in this
    environment. The Spark plumbing is exercised via fake_features."""


def real_decode(payload: bytes, mime: str):
    raise DecodeNotAvailable(
        f"no codec for {mime} in this environment — install PIL/ffmpeg "
        "and replace fake_features with a real decoder"
    )


def payload_bytes_np(i: int, length: int) -> np.ndarray:
    """Deterministic payload bytes as PURE media_id arithmetic (uint8):
    b(i, j) = (i*37 + j*101 + (i%11)*(j%13)) % 256. SQL-expressible, so
    the DuckDB oracle re-derives the bytes (and anything computed from
    them, e.g. fake_features' chunk means) without seeing the binary."""
    j = np.arange(length, dtype=np.int64)
    return ((i * 37 + j * 101 + (i % 11) * (j % 13)) % 256).astype(np.uint8)


def synth_media(spark, n: int = 256) -> DataFrame:
    """Deterministic fake media table: payload bytes and all metadata are
    pure media_id arithmetic (payload_bytes_np), so feature extraction is
    reproducible AND oracle-checkable."""
    kinds = ["image", "audio", "video"]
    mimes = {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        payload = payload_bytes_np(i, 64 + (i % 17) * 32).tobytes()
        rows.append((
            i, kind, mimes[kind], bytearray(payload),
            64 * (1 + i % 4) if kind != "audio" else None,
            48 * (1 + i % 3) if kind != "audio" else None,
            1000 * (1 + i % 30) if kind != "image" else None,
        ))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


FEATURE_DIM = 16


def fake_features(payload: np.ndarray | bytes) -> np.ndarray:
    """Deterministic stand-in for decode→feature-extract: FEATURE_DIM
    moments of the payload bytes. Replace with a real decoder on cluster."""
    b = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.float64)
    if b.size == 0:
        return np.zeros(FEATURE_DIM)
    chunks = np.array_split(b, FEATURE_DIM)
    return np.array([c.mean() if c.size else 0.0 for c in chunks])


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: the real-world shape (binary in,
    fixed-size float vector out), Arrow-batched; the per-batch loop over
    payloads is inherent to variable-size binary decoding."""

    def run(batches):
        guard_zip_rereads()
        for p in batches:
            feats = [fake_features(x).tolist() for x in p["payload"]]
            yield pd.DataFrame({
                "media_id": p["media_id"],
                "kind": p["kind"],
                "features": feats,
            })

    return media.select("media_id", "kind", "payload").mapInPandas(
        run, schema="media_id long, kind string, features array<double>"
    )


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling PLAN: expands each video row into frame
    timestamps (metadata-only — the decode of each frame is the stubbed
    step). Demonstrates the explode-then-decode partitioning shape used for
    video at scale (frames, not files, become the unit of parallelism)."""
    return (
        media.filter(F.col("kind") == "video")
        .withColumn(
            "frame_ts_ms",
            F.explode(F.sequence(F.lit(0), F.col("duration_ms") - 1,
                                 F.lit(every_ms))),
        )
        .select("media_id", "mime", "frame_ts_ms")
    )
