"""Deterministic hash sampling / dataset splitting for training pipelines.

Sampling at 100 TB must be (a) reproducible across runs and engines —
never rand()-seeded per task, whose draw order depends on partitioning —
and (b) stable under appends: a row's fate depends only on its own key.
Both come from hashing the key with md5 (identical bytes in Spark,
DuckDB, and Python) and comparing a fixed-width HEX PREFIX against
thresholds computed from the requested fractions. No shuffle at all:
every decision is a per-row narrow expression, so the sample/split
composes with scans and pushes through the whole plan.

Resolution: 4 hex digits = 65,536 buckets (fraction granularity 1/65536,
plenty for split weights; widen HEX_DIGITS for finer ratios).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

HEX_DIGITS = 4
_SPACE = 16 ** HEX_DIGITS


def _key_hex(key: Column) -> Column:
    """First HEX_DIGITS chars of md5(key as string) — the row's uniform
    draw in [0, 1) as a lexicographically ordered hex string."""
    return F.substring(F.md5(key.cast("string")), 1, HEX_DIGITS)


def _bucket(frac: float) -> int:
    """Integer bucket threshold in [0, _SPACE]. _SPACE means "keep all":
    it CANNOT be rendered as a HEX_DIGITS-wide hex string (format() yields
    the 5-char '10000', which sorts BELOW most 4-char draws — 'ffff' >
    '10000' lexicographically — so a frac≈1.0 threshold would silently
    keep only the '0...' prefix bucket, ~6%). _keep_cond and _keep_sql
    short-circuit bucket >= _SPACE to always-true and bucket <= 0 to
    always-false instead of comparing hex strings."""
    return min(_SPACE, max(0, round(frac * _SPACE)))


def _thresh_hex(bucket: int) -> str:
    assert 0 < bucket < _SPACE, "render only comparable thresholds"
    return format(bucket, f"0{HEX_DIGITS}x")


def _keep_cond(h: Column, bucket: int) -> Column:
    """Keep condition draw < threshold for an integer bucket (_bucket,
    mixing.budget_threshold), with the full/empty short-circuits. A
    keep-all Filter(true) is pruned by the optimizer."""
    if bucket >= _SPACE:
        return F.lit(True)
    if bucket <= 0:
        return F.lit(False)
    return h < F.lit(_thresh_hex(bucket))


def key_hex_sql(key_expr: str) -> str:
    """DuckDB twin of _key_hex."""
    return f"substr(md5(CAST({key_expr} AS VARCHAR)), 1, {HEX_DIGITS})"


def _keep_sql(h: str, bucket: int) -> str:
    """DuckDB twin of _keep_cond."""
    if bucket >= _SPACE:
        return "TRUE"
    if bucket <= 0:
        return "FALSE"
    return f"{h} < '{_thresh_hex(bucket)}'"


def _sql_str(s: str) -> str:
    """SQL string literal with embedded quotes doubled — generated twins
    must survive arbitrary stratum/split names, not just the fixture
    vocabulary (a name containing ' would otherwise break the SQL)."""
    return "'" + s.replace("'", "''") + "'"


def sample_fraction(df: DataFrame, key_col: str, frac: float) -> DataFrame:
    """Keep ≈frac of rows, deterministically by key. A row is kept iff its
    hex draw < thresh — the same rows every run, every engine, every
    partitioning. frac >= 1 - 1/(2·_SPACE) keeps everything (see _bucket:
    the full-space threshold has no comparable hex rendering)."""
    return df.filter(_keep_cond(_key_hex(F.col(key_col)), _bucket(frac)))


def split_column(key_col: str, weights: dict[str, float]) -> Column:
    """Label each row with its split name by cumulative hex thresholds —
    e.g. {'train': .8, 'val': .1, 'test': .1} → train/val/test assignment
    that is stable under appends and identical across engines. Weights
    must sum to 1 (the last split absorbs rounding)."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    names = list(weights)
    h = _key_hex(F.col(key_col))
    expr = F.lit(names[-1])
    cum = 0.0
    arms = []
    for name in names[:-1]:
        cum += weights[name]
        arms.append((name, _bucket(cum)))
    for name, b in reversed(arms):
        # cumulative bucket at/above the full space absorbs every row; at/
        # below zero it matches nothing
        expr = F.when(_keep_cond(h, b), F.lit(name)).otherwise(expr)
    return expr


def stratified_sample(df: DataFrame, key_col: str, strata_col: str,
                      fracs: dict[str, float],
                      default_frac: float = 0.0) -> DataFrame:
    """Per-stratum deterministic sampling — corpus BALANCING (downsample
    the dominant language/domain, keep the rare ones whole). A row is
    kept iff its hex draw clears its OWN stratum's threshold; strata not
    listed use default_frac. Same key-hash discipline as sample_fraction:
    zero shuffle, append-stable, engine-identical."""
    h = _key_hex(F.col(key_col))
    keep = _keep_cond(h, _bucket(default_frac))
    for name, frac in fracs.items():
        keep = F.when(F.col(strata_col) == name,
                      _keep_cond(h, _bucket(frac))).otherwise(keep)
    return df.filter(keep)


def stratified_sample_sql(key_expr: str, strata_expr: str,
                          fracs: dict[str, float],
                          default_frac: float = 0.0) -> str:
    """DuckDB boolean twin of stratified_sample (same thresholds, same
    short-circuits, same arm order)."""
    h = key_hex_sql(key_expr)
    arms = " ".join(
        f"WHEN {strata_expr} = {_sql_str(n)} THEN {_keep_sql(h, _bucket(f))}"
        for n, f in fracs.items())
    return f"CASE {arms} ELSE {_keep_sql(h, _bucket(default_frac))} END"


# literal-map size bound for pack_shards' per-partition offsets; above
# this they ship as a broadcast-joined DataFrame instead
MAP_OFFSETS_MAX = 10_000


def pack_shards(df: DataFrame, budget: int, id_col: str = "doc_id",
                tokens_col: str = "n_tokens") -> DataFrame:
    """Token-budget SHARD PACKING for training: documents are packed
    greedily in global id order and shard_id = exclusive-prefix-sum DIV
    budget — every shard holds ≤ budget tokens (plus at most the one
    document that straddles the boundary), reproducibly.

    Scale shape — a distributed exclusive prefix sum, never a
    single-partition global window: range-partition on id (pinned with
    localCheckpoint so the captured partition ids are stable), local
    window cumsum per partition, plus a broadcast map of per-partition
    offsets (one scalar per partition — driver-bounded). Output depends
    only on the global id order, not on where the range boundaries land.
    Integer DIV keeps shard ids exact at any corpus size (no float
    division of 10^15-token cumsums). The offsets ride as a literal map
    expression up to MAP_OFFSETS_MAX partitions (a bounded serialized
    plan); past that they broadcast-join on _pid instead — same plan
    shape, the driver never serializes a 10^5-entry literal."""
    from pyspark.sql import Window

    t = df.select(F.col(id_col),
                  F.col(tokens_col).cast("long").alias("_n"))
    parts = (t.repartitionByRange(F.col(id_col))
             .withColumn("_pid", F.spark_partition_id())
             .localCheckpoint())
    psums = (parts.groupBy("_pid").agg(F.sum("_n").alias("_ps"))
             .orderBy("_pid").collect())
    offsets, acc = {}, 0
    for r in psums:
        offsets[int(r["_pid"])] = acc
        acc += int(r["_ps"])
    if len(offsets) <= MAP_OFFSETS_MAX:
        omap = F.create_map(*[x for pid, off in offsets.items()
                              for x in (F.lit(pid), F.lit(off))])
        parts = parts.withColumn("_off", omap[F.col("_pid")])
    else:
        odf = df.sparkSession.createDataFrame(
            list(offsets.items()), "_pid int, _off long")
        parts = parts.join(F.broadcast(odf), "_pid")
    w = (Window.partitionBy("_pid").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    excl = F.sum("_n").over(w) - F.col("_n") + F.col("_off")
    return (parts.select(F.col(id_col), F.col("_n").alias(tokens_col),
                         excl.cast("long").alias("_excl"))
            .withColumn("shard_id", F.expr(f"_excl DIV {int(budget)}"))
            .drop("_excl"))


def pack_shards_sql(budget: int, tokens_expr: str,
                    table: str = "documents",
                    id_col: str = "doc_id") -> str:
    """DuckDB twin of pack_shards: plain window cumsum (the oracle can
    afford the single global order)."""
    return f"""
WITH t AS (SELECT {id_col}, CAST({tokens_expr} AS BIGINT) AS n_tokens
           FROM {table})
SELECT {id_col}, n_tokens,
  CAST(coalesce(sum(n_tokens) OVER (ORDER BY {id_col}
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
    // {budget} AS BIGINT) AS shard_id
FROM t
"""


def split_column_sql(key_expr: str, weights: dict[str, float]) -> str:
    """DuckDB twin of split_column, generated from the same weights (same
    bucket short-circuits, same arm order — the engines cannot drift)."""
    names = list(weights)
    h = key_hex_sql(key_expr)
    cum = 0.0
    arms = []
    for name in names[:-1]:
        cum += weights[name]
        arms.append(
            f"WHEN {_keep_sql(h, _bucket(cum))} THEN {_sql_str(name)}")
    return "CASE " + " ".join(arms) + f" ELSE {_sql_str(names[-1])} END"
