"""Structured Streaming front-end for the quality-filter pipeline.

The reference's config-producer is a polling incremental source: walk a
directory, diff mtimes, process only new/changed files
(/root/reference/config-producer-proto/src/main.rs:51-121,200-246). Spark's
file-stream source IS that operator, done right: new files under the input
dir are discovered per micro-batch, progress is tracked in the streaming
checkpoint, and a restart resumes exactly where it left off — the streaming
twin of io.py's batch manifest.

The labeling plan is shared verbatim with the batch path
(plans/pipeline.py:label_turns) — all narrow transformations, so it is
trivially stream-safe. The one batch-only piece is duplicate-(conv_id,
turn_idx) detection, which needs a global view; streams get
`dedup='drop'` (stateful dropDuplicates inside the watermark) or
`dedup='none'` (flagging deferred to a batch sweep). Scale shape: per-key
state lives in the state store, keyed on the composite (conv_id, turn_idx)
— high cardinality, no conversation-length skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import DEFAULT_RULESET, RuleSet
from ..functions.udfs import guard_zip_rereads
from ..io import parquet_stream_writer, parquet_writer
from ..plans import pipeline
from ..schema import TRANSCRIPT_SCHEMA


def read_transcript_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-stream source over a growing directory of transcript parquet."""
    return spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)


def label_stream(
    df: DataFrame,
    cfg: RuleSet = DEFAULT_RULESET,
    *,
    with_models: bool = False,
    bc_models=None,
    dedup: str = "none",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming labeling: same rule/scrub/model plan as batch.

    dedup='drop': exact duplicates of (conv_id, turn_idx) within the event-
    time watermark are dropped (first wins — stateful, bounded memory:
    dropDuplicatesWithinWatermark evicts each key's state once the
    watermark passes its event time; plain dropDuplicates on a subset
    WITHOUT the event-time column never evicts, so its state grows
    unboundedly).
    dedup='none': duplicates pass through unflagged (batch sweep later).
    """
    if dedup == "drop":
        df = (df.withWatermark("ts", watermark)
              .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"]))
    return pipeline.label_turns(
        df, cfg, with_models=with_models, bc_models=bc_models,
        dup_strategy="none",
    )


def start_parquet_sink(labeled: DataFrame, output_dir: str,
                       checkpoint_dir: str, *, available_now: bool = False):
    """Append sink with exactly-once file-source → parquet semantics via the
    streaming checkpoint (restart-safe; the C5 mtime-map analog)."""
    w = (
        parquet_stream_writer(labeled)
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def windowed_drop_counts(labeled: DataFrame, window: str = "1 hour",
                         watermark: str = "2 hours",
                         ts_col: str = "ts") -> DataFrame:
    """Event-time windowed keep/drop counts with a watermark: rows later
    than `watermark` behind the stream's max event time are dropped, and a
    window finalizes (emits, append mode) once the watermark passes its
    end — the streaming form of the D10 metrics report with late-data
    semantics.
    """
    return (
        labeled.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"))
        .agg(*pipeline.keep_counts())
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "n_turns", "n_kept", "n_dropped")
    )


SESSION_OUTPUT_SCHEMA = ("conv_id string, n_turns long, n_kept long, "
                         "max_turn_idx int, last_ts timestamp")
SESSION_STATE_SCHEMA = ("n_turns long, n_kept long, max_turn_idx int, "
                        "last_ts_epoch long")


def conversation_stats_stream(labeled: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): running per-
    conversation aggregates — turn count, kept count, max turn_idx, last
    event time — updated each micro-batch.

    This is the streaming twin of the batch metrics table (reference D10:
    per-dimension counters, metrics.rs:11-31) with conversation grain.
    State is a 4-tuple per conv_id; emission mode 'update' re-emits a
    conversation's row whenever it changes.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        guard_zip_rereads()
        n_turns, n_kept, max_idx, last_ts = (
            state.get if state.exists else (0, 0, -1, 0)
        )
        for pdf in pdfs:
            n_turns += len(pdf)
            n_kept += int(pdf["keep"].sum())
            if len(pdf):
                max_idx = max(max_idx,
                              int(pdf["turn_idx"].fillna(-1).max()))
                ts = pdf["ts"].dropna()
                if len(ts):
                    last_ts = max(last_ts,
                                  int(ts.max().timestamp()))
        state.update((n_turns, n_kept, max_idx, last_ts))
        yield pd.DataFrame({
            "conv_id": [key[0]],
            "n_turns": [n_turns],
            "n_kept": [n_kept],
            "max_turn_idx": [max_idx],
            "last_ts": [pd.Timestamp(last_ts, unit="s")],
        })

    return (
        labeled.groupBy("conv_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def incremental_dedup_stream(stream_docs: DataFrame, index,
                             output_dir: str, checkpoint_dir: str,
                             threshold: float = 0.5):
    """STREAMING incremental dedup: a stream of new documents checked
    per micro-batch against a static MinHash index of the kept corpus
    (operators/dedup.MinHashIndex) — the continuous-ingestion form of
    incremental_dedup_pairs.

    Shape: foreachBatch runs the BATCH operator on each micro-batch (the
    micro-batch IS the "daily batch"; every decision depends only on the
    doc itself + the static index, so the pair set is invariant to how
    the stream is batched — pinned by the gate, which forces multiple
    micro-batches via maxFilesPerTrigger and still matches the one-shot
    batch oracle). Each micro-batch OVERWRITES its own
    `output_dir/batch=<id>` directory — foreachBatch is at-least-once,
    and a crash between a batch's write and its checkpoint commit
    replays the batch on restart; a plain append would duplicate its
    pairs, the keyed overwrite makes the replay idempotent (exactly-once
    output). Read the result with spark.read.parquet(output_dir).

    Returns the started StreamingQuery (caller awaits/stops)."""
    import os

    from ..operators import dedup as dedup_ops

    def process(batch_df: DataFrame, batch_id: int) -> None:
        pairs = dedup_ops.incremental_dedup_pairs(
            index, batch_df, threshold=threshold)
        parquet_writer(pairs).mode("overwrite").parquet(
            os.path.join(output_dir, f"batch={batch_id}"))

    return (stream_docs.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())
