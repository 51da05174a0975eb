"""Shared plan guards: the predicate-pushdown barrier and the one rank cap.

The repo's hot-key discipline (CLAUDE.md) rests on Catalyst's PARTIAL
WindowGroupLimit: a `row_number() <= cap` filter gets a map-side
pre-trim ONLY while cap <= spark.sql.optimizer.windowGroupLimitThreshold
(default 1000). Above it, the optimization silently disappears and every
hot key ships (and sorts) its whole population in one partition — the
exact failure mode the caps exist to avoid. Every rank-capped operator
(domain caps, the MinHash/SimHash band joins, the ANN member pools) goes
through rank_cap(), which warns when a cap passes the threshold (r4
ADVICE), so that discipline lives in one function."""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Window, functions as F

WINDOW_GROUP_LIMIT_THRESHOLD = 1000


def rank_cap(df: DataFrame, keys, order_col: str, cap: int,
             param: str) -> DataFrame:
    """Keep the `cap` first rows by `order_col` within each `keys` group
    (names or Columns): a `row_number() <= cap` filter, which Catalyst
    pre-trims map-side while cap stays within the threshold. `param`
    names the caller's cap option in the over-threshold warning."""
    limit = WINDOW_GROUP_LIMIT_THRESHOLD
    if cap > limit:
        warnings.warn(
            f"{param}={cap} exceeds Spark's windowGroupLimitThreshold "
            f"({limit}): the map-side partial WindowGroupLimit will NOT "
            "fire, so each hot key ships its full population to one "
            "partition's sort — raise "
            "spark.sql.optimizer.windowGroupLimitThreshold to match, or "
            f"keep {param} <= {limit}",
            stacklevel=3)
    w = Window.partitionBy(*keys).orderBy(order_col)
    return (df.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= cap).drop("_rk"))


def barrier_filter(df: DataFrame, cond: Column) -> DataFrame:
    """`df.filter(cond)`, pinned ABOVE df's projections.

    PushDownPredicates substitutes aliases while it pushes a filter below
    a Project, so a condition over a column computed from heavy
    expressions (split/translate features, an interpreted zip_with fold,
    a Python UDF) is re-expanded inline and every surviving row pays that
    work twice — qf_ruleset_diff measured 58 split() occurrences vs 2.
    A predicate, even a non-deterministic one, still pushes through any
    all-deterministic Project: the rule only checks the PROJECT FIELDS.
    So the barrier is a non-deterministic project field, `_nd =
    spark_partition_id()` (identically >= 0), that the filter references:
    the projection holding it can never host a pushed-through predicate,
    the filter stays on top, and every upstream expression evaluates once
    per row. Nothing here wants scan-level pushdown (the callers' inputs
    are derived columns), so the barrier costs one int per row.

    The returned frame still carries `_nd`; callers select their columns.
    """
    return (df.withColumn("_nd", F.spark_partition_id())
            .filter(F.when(F.col("_nd") >= 0, cond).otherwise(F.lit(False))))
