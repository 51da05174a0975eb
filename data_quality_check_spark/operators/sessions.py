"""Gap-based sessionization over an event stream (batch form).

The standard conversation/activity segmentation operator: events of one
user separated by more than `gap_s` seconds start a new session.

Scale shape (100 TB, the default `bounded=True` path): the per-event
window is keyed on (user, DAY), so a pathological single user (a bot
with 10^9 events) is split across days instead of serializing into one
partition's sort — the heaviest sort is one user-day. Day-local sessions
are then stitched exactly: a session merges into its predecessor iff
start - prev_end ≤ gap_s, evaluated per user over the tiny SUMMARY rows
(one row per day-session, not per event). Within a day that condition is
false by construction (local sessions are separated by > gap_s), and
across any day distance it is precisely the global rule, so the stitched
output is semantically IDENTICAL to the single-window form for every
gap_s — the `event_sessions` gate hash pins this, and
tests/test_sampling_chunking.py asserts bounded == unbounded on
midnight-spanning fixtures. Event-time ties break on event_id so the
session index is deterministic under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_DAY_S = 86400


def _gap_runs(df: DataFrame, w, start: str, end: str, gap_s: int,
              flag: str):
    """The new-session flag and its running count over window `w`:
    `flag` is 1 where a row has no predecessor or starts more than gap_s
    after the predecessor's `end`. Returns (df with `flag`, the running
    count Column, 1 at each partition's first row)."""
    prev_end = F.lag(end).over(w)
    new_s = F.when(prev_end.isNull() | ((F.col(start) - prev_end) > gap_s),
                   F.lit(1)).otherwise(F.lit(0))
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(flag, new_s), F.sum(flag).over(run)


def sessionize(events: DataFrame, gap_s: int = 1800,
               user_col: str = "user_id", ts_col: str = "ts",
               id_col: str = "event_id", bounded: bool = True) -> DataFrame:
    """One row per (user, session): 0-based session_idx, event count,
    start/end epoch seconds, µ-scaled value sum. `bounded=False` runs the
    simple single-window form (one user = one sort partition) — kept as
    the semantics reference the bounded path is tested against."""
    te = F.unix_timestamp(F.col(ts_col)).cast("long")
    base = events.filter(F.col(ts_col).isNotNull()).withColumn("_te", te)
    sumv = F.sum(F.floor(F.col("value") * 1000).cast("long")).cast("long")

    if not bounded:
        w = Window.partitionBy(user_col).orderBy("_te", F.col(id_col))
        sess, runs = _gap_runs(base, w, "_te", "_te", gap_s, "_new")
        sess = sess.withColumn("session_idx", (runs - 1).cast("int"))
        return sess.groupBy(user_col, "session_idx").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("_te").alias("start_epoch"),
            F.max("_te").alias("end_epoch"),
            sumv.alias("sum_value_k"),
        )

    # phase 1 — day-local sessions: the per-EVENT window partitions on
    # (user, day); no single key ever holds more than one user-day
    day = base.withColumn("_day", F.floor(F.col("_te") / _DAY_S))
    wd = Window.partitionBy(user_col, "_day").orderBy("_te", F.col(id_col))
    local, runs = _gap_runs(day, wd, "_te", "_te", gap_s, "_new")
    local = local.withColumn("_lsess", runs)
    day_sess = local.groupBy(user_col, "_day", "_lsess").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min("_te").alias("_start"),
        F.max("_te").alias("_end"),
        sumv.alias("_sumv"),
    )

    # phase 2 — exact stitch over summary rows (per-user window, but the
    # input is one row per day-session): merge iff start - prev_end ≤ gap
    wu = Window.partitionBy(user_col).orderBy("_start")
    glob, runs = _gap_runs(day_sess, wu, "_start", "_end", gap_s, "_gnew")
    glob = glob.withColumn("session_idx", (runs - 1).cast("int"))
    return glob.groupBy(user_col, "session_idx").agg(
        F.sum("_n").alias("n_events"),
        F.min("_start").alias("start_epoch"),
        F.max("_end").alias("end_epoch"),
        F.sum("_sumv").cast("long").alias("sum_value_k"),
    )


def sessionize_sql(gap_s: int = 1800) -> str:
    """DuckDB twin over the `events` view, generated from the same gap."""
    return f"""
WITH o AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS te, value
  FROM events WHERE ts IS NOT NULL
),
flagged AS (
  SELECT *, CASE WHEN lag(te) OVER w IS NULL
                   OR te - lag(te) OVER w > {gap_s}
            THEN 1 ELSE 0 END AS new_s
  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY te, event_id)
),
s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY te, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM flagged
)
SELECT user_id, CAST(sess - 1 AS INT) AS session_idx,
  count(*) AS n_events,
  CAST(min(te) AS BIGINT) AS start_epoch,
  CAST(max(te) AS BIGINT) AS end_epoch,
  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_value_k
FROM s GROUP BY 1, 2
"""
