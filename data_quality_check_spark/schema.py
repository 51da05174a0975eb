"""Canonical schemas for the transcript engine.

The transcript shape is fixed by the spec (BASELINE.json input_hint); it is
the typed-table analog of the reference's runtime protobuf descriptor
(/root/reference/data-quality-server/src/main.rs:28 DescriptorMap).
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])

# model-score struct produced by the combined langid+perplexity pandas UDF
SCORES_TYPE = T.StructType([
    T.StructField("lang", T.StringType()),
    T.StructField("lang_conf", T.DoubleType()),
    T.StructField("ppl", T.DoubleType()),
])
