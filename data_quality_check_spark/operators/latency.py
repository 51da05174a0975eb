"""D10 latency histogram: per-batch duration percentiles over fixed buckets.

The reference's second metric (after the request counter) is a per-request
duration histogram `validate_json_duration_seconds`, dimensioned by
(message_name, field_check)
(/root/reference/data-quality-server/src/metrics.rs:22-25, emission
json_validation.rs:62-83). The Spark analog measures the same thing at
Spark's natural request grain — the Arrow BATCH:
`pipeline.label_turns(measure_latency=True)` stamps every row with the
wall-clock microseconds (`batch_us`) its batch took inside the scoring
UDF, and the histogram/percentile rollup below aggregates those into
fixed power-of-two µs buckets, exactly Prometheus-style (`io.run_job`
writes them per chunk).

Oracle discipline: wall-clock values are not reproducible across engines,
so the gate query (`qf_latency`) feeds this SAME rollup a DETERMINISTIC
pseudo-duration (a documented function of the row) to hash-check the
bucketization + cumulative-percentile MATH against DuckDB; the measured
path (`batch_us` → same rollup) is covered rows-only plus sanity tests
(tests/test_latency.py). Percentiles are EXACT over the bucketed
values — smallest bucket whose cumulative count reaches ceil(q·total) —
not percentile_approx, so both engines agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

QUANTILES = (0.5, 0.95, 0.99)


def bucket_le_us(duration_us: Column) -> Column:
    """Power-of-two bucket upper bound (µs): 1, 2, 4, ... — the fixed
    integer bucket ladder both engines compute identically in float64
    (exact for durations < 2^53 µs ≈ 285 years)."""
    d = F.greatest(duration_us.cast("double"), F.lit(1.0))
    return F.pow(F.lit(2.0), F.ceil(F.log2(d))).cast("long")


def bucket_le_us_sql(expr: str) -> str:
    """DuckDB twin of bucket_le_us over a SQL expression."""
    return (f"CAST(power(2, ceil(log2(greatest(CAST(({expr}) AS DOUBLE),"
            f" 1.0)))) AS BIGINT)")


def histogram(df: DataFrame, duration_col: str,
              dims: tuple[str, ...]) -> DataFrame:
    """(dims..., bucket_le_us, n) — one groupBy shuffle on (dims, bucket);
    the shuffle carries only the dims and an 8-byte bucket id."""
    return (
        df.groupBy(*dims, bucket_le_us(F.col(duration_col))
                   .alias("bucket_le_us"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def percentiles(df: DataFrame, duration_col: str, dims: tuple[str, ...],
                qs: tuple[float, ...] = QUANTILES) -> DataFrame:
    """Per-dim exact bucket percentiles: for each q, the smallest bucket
    upper bound whose cumulative count reaches ceil(q·total). Deterministic
    integers — no percentile_approx, no float compare."""
    h = histogram(df, duration_col, dims)
    w_cum = (Window.partitionBy(*dims).orderBy("bucket_le_us")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_tot = Window.partitionBy(*dims)
    c = (h.withColumn("cum", F.sum("n").over(w_cum))
         .withColumn("total", F.sum("n").over(w_tot)))
    aggs = [F.max("total").alias("n")]
    for q in qs:
        target = F.ceil(F.lit(q) * F.col("total"))
        aggs.append(
            F.min(F.when(F.col("cum") >= target, F.col("bucket_le_us")))
            .alias(f"p{int(q * 100)}_us"))
    return c.groupBy(*dims).agg(*aggs)


def percentiles_sql(source_sql: str, duration_expr: str,
                    dims: tuple[str, ...],
                    qs: tuple[float, ...] = QUANTILES) -> str:
    """DuckDB twin of percentiles() — generated from the same dims/qs so
    the two engines cannot drift."""
    dim_list = ", ".join(dims)
    p_cols = ", ".join(
        f"CAST(min(CASE WHEN cum >= ceil({q} * total) THEN bucket_le_us "
        f"END) AS BIGINT) AS p{int(q * 100)}_us"
        for q in qs)
    return f"""
hist AS (
  SELECT {dim_list}, {bucket_le_us_sql(duration_expr)} AS bucket_le_us,
         count(*) AS n
  FROM ({source_sql})
  GROUP BY ALL
),
cum AS (
  SELECT {dim_list}, bucket_le_us, n,
    sum(n) OVER (PARTITION BY {dim_list} ORDER BY bucket_le_us) AS cum,
    sum(n) OVER (PARTITION BY {dim_list}) AS total
  FROM hist
)
SELECT {dim_list}, CAST(max(total) AS BIGINT) AS n, {p_cols}
FROM cum GROUP BY {dim_list}
"""

