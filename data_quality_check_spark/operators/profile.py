"""Table profiling: the per-column data-quality report.

The first thing a quality engine answers about any table: how many rows,
how many nulls per column, how many distinct values, what value ranges.
One aggregation pass over the table produces every column's stats
simultaneously (Spark computes all the aggregate expressions in a single
stage — never one pass per column), then the wide row is melted into the
canonical (column, stat...) report shape.

Exact counts only, so the report is engine-reproducible (the DuckDB twin
is generated from the same column list).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def profile_table(df: DataFrame,
                  columns: list[str] | None = None) -> DataFrame:
    """(column, n, n_null, n_distinct, min_s, max_s) — min/max rendered as
    strings so one report schema covers every column type."""
    cols = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        col = F.col(c)
        aggs.append(F.count_if(col.isNull()).alias(f"_null_{c}"))
        aggs.append(F.countDistinct(col).alias(f"_dist_{c}"))
        aggs.append(F.min(col).cast("string").alias(f"_min_{c}"))
        aggs.append(F.max(col).cast("string").alias(f"_max_{c}"))
    wide = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("_n").alias("n"),
            F.col(f"_null_{c}").alias("n_null"),
            F.col(f"_dist_{c}").alias("n_distinct"),
            F.col(f"_min_{c}").alias("min_s"),
            F.col(f"_max_{c}").alias("max_s"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def profile_table_sql(table: str, columns: list[str]) -> str:
    """DuckDB twin generated from the same column list."""
    parts = []
    for c in columns:
        parts.append(f"""
SELECT '{c}' AS column, count(*) AS n,
  count(*) FILTER (WHERE {c} IS NULL) AS n_null,
  count(DISTINCT {c}) AS n_distinct,
  CAST(min({c}) AS VARCHAR) AS min_s,
  CAST(max({c}) AS VARCHAR) AS max_s
FROM {table}""")
    return "\nUNION ALL\n".join(parts)


def corpus_drift(old: DataFrame, new: DataFrame,
                 dim: str) -> DataFrame:
    """Distribution drift between two corpus snapshots along one
    dimension: per value, counts in each snapshot and the per-mille share
    change — the monitoring primitive behind 'did the ingest mix shift'.
    Two small aggregates (map-side combined) and one outer join on the
    dimension value; share math in integers so both engines agree exactly.
    """
    def shares(df, n_col):
        agg = df.groupBy(dim).agg(F.count(F.lit(1)).alias(n_col))
        total = F.sum(n_col).over(Window.partitionBy())
        return agg.withColumn(f"{n_col}_pm",
                              F.floor(F.col(n_col) * 1000 / total)
                              .cast("long"))

    from pyspark.sql import Window

    o = shares(old, "n_old")
    n = shares(new, "n_new")
    return (
        o.join(n, dim, "full_outer")
        .select(
            dim,
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            (F.coalesce("n_new_pm", F.lit(0))
             - F.coalesce("n_old_pm", F.lit(0))).alias("share_delta_pm"),
        )
    )


def corpus_drift_sql(old_sql: str, new_sql: str, dim: str) -> str:
    """DuckDB twin over two snapshot SELECTs, same integer share math."""
    return f"""
WITH o AS (
  SELECT {dim}, count(*) AS n_old,
    CAST(floor(count(*) * 1000 / sum(count(*)) OVER ()) AS BIGINT)
      AS n_old_pm
  FROM ({old_sql}) GROUP BY {dim}
),
n AS (
  SELECT {dim}, count(*) AS n_new,
    CAST(floor(count(*) * 1000 / sum(count(*)) OVER ()) AS BIGINT)
      AS n_new_pm
  FROM ({new_sql}) GROUP BY {dim}
)
SELECT coalesce(o.{dim}, n.{dim}) AS {dim},
  coalesce(n_old, 0) AS n_old,
  coalesce(n_new, 0) AS n_new,
  coalesce(n_new_pm, 0) - coalesce(n_old_pm, 0) AS share_delta_pm
FROM o FULL OUTER JOIN n ON o.{dim} = n.{dim}
"""
