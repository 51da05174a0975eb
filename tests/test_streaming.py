"""Structured Streaming tests: incremental file source with exactly-once
resume (the C5 config-watcher analog), streaming labels == batch labels,
watermarked dedup, and the stateful conversation aggregator."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from data_quality_check_spark.streaming import stream as dqs


def _rows(i0, n, conv="c1"):
    return [
        (conv, i, ["user", "assistant"][i % 2],
         f"turn number {i} with some ordinary words here", None,
         datetime(2024, 1, 1, tzinfo=timezone.utc))
        for i in range(i0, i0 + n)
    ]


SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
          "tool string, ts timestamp")


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append").parquet(path)


def _run_available(spark, src, out, ckpt):
    df = dqs.read_transcript_stream(spark, src)
    lab = dqs.label_stream(df, with_models=False)
    q = dqs.start_parquet_sink(lab, out, ckpt, available_now=True)
    q.awaitTermination(120)
    q.stop()


def test_stream_matches_batch_and_resumes(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(spark, src, _rows(0, 40))
    _run_available(spark, src, out, ckpt)
    got1 = spark.read.parquet(out)
    assert got1.count() == 40

    # resume: only the NEW file is processed (checkpoint = mtime-map analog)
    _write_batch(spark, src, _rows(40, 25))
    _run_available(spark, src, out, ckpt)
    got2 = spark.read.parquet(out).collect()
    assert len(got2) == 65
    keys = [(r["conv_id"], r["turn_idx"]) for r in got2]
    assert len(set(keys)) == 65  # exactly-once: no dup, no missing

    # streaming labels equal the batch pipeline's (dup rule aside)
    from data_quality_check_spark.plans import pipeline
    batch = pipeline.label_turns(
        spark.read.parquet(src), with_models=False, dup_strategy="none"
    ).collect()
    b = {(r["conv_id"], r["turn_idx"]):
         (r["keep"], tuple(r["drop_reasons"]), r["text_scrubbed"])
         for r in batch}
    for r in got2:
        assert b[(r["conv_id"], r["turn_idx"])] == (
            r["keep"], tuple(r["drop_reasons"]), r["text_scrubbed"])


def test_stream_with_models_matches_batch(spark, bc_models, tmp_path):
    """Model-scored streaming labels (langid + perplexity drop rules)
    must be BIT-identical to the batch pipeline's — the stream ≡ batch
    replay property extended to the broadcast-model path (scores carry
    the geometry-invariance guarantee, so micro-batch boundaries cannot
    shift them)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rows = _rows(0, 20)
    # junk rows that the model rules (not heuristics alone) will score
    rows += [("c2", i, ["user", "assistant"][i % 2],
              "zxqj vvkw qqpf " * 4 + str(i), None,
              datetime(2024, 1, 1, tzinfo=timezone.utc))
             for i in range(6)]
    _write_batch(spark, src, rows)
    df = dqs.read_transcript_stream(spark, src)
    lab = dqs.label_stream(df, with_models=True, bc_models=bc_models)
    q = dqs.start_parquet_sink(lab, out, ckpt, available_now=True)
    q.awaitTermination(120)
    q.stop()
    got = spark.read.parquet(out).collect()
    assert len(got) == 26

    from data_quality_check_spark.plans import pipeline
    batch = pipeline.label_turns(
        spark.read.parquet(src), with_models=True, bc_models=bc_models,
        dup_strategy="none").collect()
    b = {(r["conv_id"], r["turn_idx"]):
         (r["keep"], tuple(r["drop_reasons"]), r["lang"],
          r["lang_conf"], r["ppl"])
         for r in batch}
    dropped_by_model = 0
    for r in got:
        assert b[(r["conv_id"], r["turn_idx"])] == (
            r["keep"], tuple(r["drop_reasons"]), r["lang"],
            r["lang_conf"], r["ppl"])  # bit-identical scores
        if any(x in r["drop_reasons"] for x in ("lang_conf", "perplexity",
                                                "lang", "ppl")):
            dropped_by_model += 1
    assert dropped_by_model > 0  # the model rules actually fired


def test_stream_dedup_within_watermark(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rows = _rows(0, 10) + _rows(5, 3)  # turn_idx 5,6,7 duplicated
    _write_batch(spark, src, rows)
    df = dqs.read_transcript_stream(spark, src)
    lab = dqs.label_stream(df, with_models=False, dedup="drop")
    q = dqs.start_parquet_sink(lab, out, ckpt, available_now=True)
    q.awaitTermination(120)
    q.stop()
    got = spark.read.parquet(out)
    assert got.count() == 10
    assert got.select("conv_id", "turn_idx").distinct().count() == 10


def test_windowed_counts_with_watermark_drops_late_data(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def rows_at(hours, n, i0=0):
        return [
            ("c1", i0 + i, "user", f"turn {i0 + i} with ordinary words here",
             None, datetime(2024, 1, 1, h, 30, tzinfo=timezone.utc))
            for i, h in enumerate(hours for _ in range(n))
        ]

    # hours 0..5, 4 rows each → max ts 05:30, watermark 2h → windows with
    # end <= 03:30 finalize: hours 0,1,2
    batch = [r for h in range(6) for r in rows_at(h, 4, i0=h * 4)]
    _write_batch(spark, src, batch)

    def run():
        df = dqs.read_transcript_stream(spark, src)
        lab = dqs.label_stream(df, with_models=False)
        agg = dqs.windowed_drop_counts(lab, "1 hour", "2 hours")
        q = (agg.writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt).outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()

    run()
    got = {r["window_start"].hour: r["n_turns"]
           for r in spark.read.parquet(out).collect()}
    assert got == {0: 4, 1: 4, 2: 4}  # finalized windows only

    # a LATE row (hour 0, far behind the 03:30 watermark) must be DROPPED:
    # its finalized window does not re-emit and no new row appears for it
    _write_batch(spark, src, rows_at(0, 1, i0=100))
    # plus an on-time row at hour 7: watermark → 05:30, finalizing the
    # windows ending at 04:00 and 05:00 (hours 3 and 4); hour 5's window
    # ends 06:00 > 05:30 so it stays open
    _write_batch(spark, src, rows_at(7, 1, i0=200))
    run()
    got2 = {r["window_start"].hour: r["n_turns"]
            for r in spark.read.parquet(out).collect()}
    assert got2[0] == 4          # late row did not change hour-0 count
    assert got2[3] == 4 and got2[4] == 4
    assert 5 not in got2 and 7 not in got2


def test_conversation_stats_stateful(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(spark, src, _rows(0, 12, "cA") + _rows(0, 5, "cB"))
    df = dqs.read_transcript_stream(spark, src)
    lab = dqs.label_stream(df, with_models=False)
    stats = dqs.conversation_stats_stream(lab)
    q = (stats.writeStream.format("memory").queryName("conv_stats")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    q.stop()
    rows = {r["conv_id"]: r for r in
            spark.sql("SELECT * FROM conv_stats").collect()}
    assert rows["cA"]["n_turns"] == 12
    assert rows["cA"]["max_turn_idx"] == 11
    assert rows["cB"]["n_turns"] == 5
    assert rows["cA"]["n_kept"] <= 12


def test_incremental_dedup_stream_matches_batch_and_resumes(spark, tmp_path):
    """Stream ≡ batch replay for incremental dedup, plus file-source
    resume: appending new files and re-running with the SAME checkpoint
    processes only the new files — no duplicated pairs."""
    from pyspark.sql import functions as F

    from data_quality_check_spark.operators import dedup
    from data_quality_check_spark.streaming import stream as dqs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch1 = docs.filter((F.col("doc_id") % 2 == 1)
                         & (F.col("doc_id") < 250))
    batch2 = docs.filter((F.col("doc_id") % 2 == 1)
                         & (F.col("doc_id") >= 250))
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    batch1.repartition(2).write.mode("append").parquet(src)

    index = dedup.minhash_build(corpus)

    def run():
        st = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
        q = dqs.incremental_dedup_stream(st, index, out, ck)
        q.awaitTermination()

    run()
    got1 = {(r["new_doc"], r["corpus_doc"]) for r in
            spark.read.parquet(out).collect()}
    want1 = {(r["new_doc"], r["corpus_doc"]) for r in
             dedup.incremental_dedup_pairs(index, batch1, 0.5).collect()}
    assert got1 == want1 and got1

    # append new files, re-run with the same checkpoint: only batch2's
    # pairs are added, batch1's are NOT reprocessed/duplicated
    batch2.repartition(2).write.mode("append").parquet(src)
    run()
    rows = spark.read.parquet(out).collect()
    got2 = {(r["new_doc"], r["corpus_doc"]) for r in rows}
    want2 = want1 | {(r["new_doc"], r["corpus_doc"]) for r in
                     dedup.incremental_dedup_pairs(index, batch2, 0.5)
                     .collect()}
    assert got2 == want2
    assert len(rows) == len(got2)  # exactly-once: no duplicated pairs
