"""D10 latency histogram: bucket math vs numpy, exact bucket percentiles,
and the measured (wall-clock) path through label_turns'
measure_latency=True."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from data_quality_check_spark.operators import latency


def test_bucket_boundaries_are_powers_of_two(spark):
    durs = [0, 1, 2, 3, 17, 64, 65, 1000, 123456]
    df = spark.createDataFrame([(d,) for d in durs], "dur long")
    got = {r["dur"]: r["b"] for r in df.select(
        "dur", latency.bucket_le_us(F.col("dur")).alias("b")).collect()}
    for d in durs:
        expect = 2 ** math.ceil(math.log2(max(d, 1)))
        assert got[d] == expect, (d, got[d], expect)


def test_percentiles_match_numpy_on_bucketed_values(spark):
    rng = np.random.RandomState(5)
    durs = rng.randint(1, 100000, size=500).tolist()
    df = spark.createDataFrame([("x", int(d)) for d in durs],
                               "dim string, dur long")
    row = latency.percentiles(df, "dur", ("dim",)).collect()[0]
    buckets = np.array(sorted(2 ** math.ceil(math.log2(d)) if d > 1 else 1
                              for d in durs))
    n = len(buckets)
    for q, col in [(0.5, "p50_us"), (0.95, "p95_us"), (0.99, "p99_us")]:
        expect = int(buckets[math.ceil(q * n) - 1])
        assert row[col] == expect, (q, row[col], expect)
    assert row["n"] == n


def test_percentiles_multi_dim_partitioning(spark):
    rows = [("a", 10)] * 90 + [("a", 100000)] * 10 + [("b", 3)] * 100
    df = spark.createDataFrame(rows, "dim string, dur long")
    got = {r["dim"]: r for r in
           latency.percentiles(df, "dur", ("dim",)).collect()}
    assert got["a"]["p50_us"] == 16          # 2^ceil(log2(10))
    assert got["a"]["p99_us"] == 131072      # the slow tail bucket
    assert got["b"]["p50_us"] == got["b"]["p99_us"] == 4


def test_timed_scores_measures_real_batches(spark, bc_models):
    from data_quality_check_spark.plans import pipeline

    rows = [(f"c{i % 8}", i // 8, "user",
             f"some ordinary text number {i} with words", None, None)
            for i in range(64)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    out = pipeline.label_turns(df, with_models=True, bc_models=bc_models,
                               measure_latency=True)
    rows = out.select("lang", "batch_us").collect()
    assert len(rows) == 64
    assert all(r["batch_us"] > 0 for r in rows)     # real wall time
    assert all(r["lang"] is not None for r in rows)
    # the measured durations flow through the SAME rollup as the gate
    p = latency.percentiles(out.withColumn("stage", F.lit("score")),
                            "batch_us", ("stage",)).collect()[0]
    assert p["n"] == 64
    assert p["p50_us"] >= 1
    assert p["p50_us"] <= p["p95_us"] <= p["p99_us"]


def test_run_job_writes_latency_table(spark, tmp_path, bc_models):
    from data_quality_check_spark import io as dq_io

    src = str(tmp_path / "src")
    rows = [(f"c{i % 5}", i // 5, "user",
             f"ordinary turn text number {i} with several words", None, None)
            for i in range(100)]
    (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp").repartition(4).write.parquet(src))
    out = str(tmp_path / "out")
    dq_io.run_job(spark, src, out, bc_models=bc_models,
                  files_per_chunk=100, measure_latency=True)
    lat = dq_io.read_latency(spark, out).collect()
    assert len(lat) >= 1
    for r in lat:
        assert r["p50_us"] >= 1
        assert r["p50_us"] <= r["p95_us"] <= r["p99_us"]
    # the labeled output itself does not leak the instrumentation column
    assert "batch_us" not in dq_io.read_output(spark, out).columns


def test_read_latency_tolerates_mixed_flag_chunks(spark, tmp_path, bc_models):
    """ADVICE r02: a resume that flips measure_latency produces a manifest
    with timed AND untimed chunks; read_latency must read only the timed
    ones instead of failing on a missing latency path."""
    import pytest

    from data_quality_check_spark import io as dq_io

    def write_src(path, base):
        rows = [(f"m{base + i % 3}", i // 3, "user",
                 f"plain text turn number {base + i} here", None, None)
                for i in range(30)]
        (spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string, "
                  "tool string, ts timestamp").coalesce(1).write
         .mode("append").parquet(path))

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    write_src(src, 0)
    dq_io.run_job(spark, src, out, bc_models=bc_models,
                  files_per_chunk=100, measure_latency=False)
    with pytest.raises(FileNotFoundError, match="latency"):
        dq_io.read_latency(spark, out)
    write_src(src, 1000)  # second chunk, this time timed
    dq_io.run_job(spark, src, out, bc_models=bc_models,
                  files_per_chunk=100, measure_latency=True)
    lat = dq_io.read_latency(spark, out).collect()
    assert len(lat) >= 1          # only the timed chunk is read
    # both chunks' turns remain readable
    assert dq_io.read_output(spark, out).count() == 60
