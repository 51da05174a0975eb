"""Corpus MIXING: deterministic down-sampling of each source to a token
budget — the data-mixture step of training-set assembly (every large LM
recipe weights its sources; the mixture is realized by sampling each
source to its budgeted token share).

Determinism discipline (same as operators/sampling.py): a document's
fate depends only on its own key's md5 draw and a threshold derived
from PUBLISHED aggregates — reproducible across runs, engines and
partitionings. The per-source fraction is budget / total_tokens
(capped at 1), realized as an integer bucket threshold computed with
FLOOR in both engines (floor, not Python's banker's round — the one
rounding rule both SQL and Python reproduce bit-for-bit).

Scale shape: one map-side-combinable SUM per source for the total (a
scalar to the driver — the published mixture stat, not a data collect),
then a narrow per-row filter. Nothing shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .sampling import HEX_DIGITS, _SPACE, _keep_cond, _key_hex, key_hex_sql


def budget_threshold(total_tokens: int, budget: int) -> int:
    """Integer bucket threshold in [0, _SPACE] for sampling a source of
    `total_tokens` down to ≈`budget` tokens: floor(min(1, b/t)·_SPACE).
    Pure function of two published ints — both engines re-derive it
    (FLOOR in both; DuckDB's CAST-to-BIGINT rounds, so the twin floors
    explicitly). A zero-token source keeps everything: its rows cost
    nothing against the budget."""
    if total_tokens <= 0:
        return _SPACE
    frac = min(1.0, budget / total_tokens)
    return min(_SPACE, int(frac * _SPACE))


def sample_to_budget(df: DataFrame, budget: int, key_col: str = "doc_id",
                     tokens_col: str = "n_tokens") -> DataFrame:
    """Deterministically keep ≈`budget` tokens' worth of rows (by the
    key's md5 draw). Expected kept tokens = budget (documents are
    dropped whole, so the realized total varies by ~one document)."""
    total = df.agg(F.sum(F.col(tokens_col).cast("long"))).collect()[0][0]
    thr = budget_threshold(int(total or 0), budget)
    return df.filter(_keep_cond(_key_hex(F.col(key_col)), thr))


def mix_corpora(sources: dict[str, tuple[DataFrame, int]],
                key_col: str = "doc_id",
                tokens_col: str = "n_tokens") -> DataFrame:
    """Assemble a training mixture: for each named source (df, budget),
    sample the source to its token budget and tag rows with the source
    name. Returns the union with a `source` column — the realized
    mixture, reproducible row-for-row."""
    parts = []
    for name, (df, budget) in sources.items():
        parts.append(
            sample_to_budget(df, budget, key_col, tokens_col)
            .withColumn("source", F.lit(name)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def sample_to_budget_sql(source_sql: str, budget: int,
                         key_expr: str = "doc_id",
                         tokens_expr: str = "n_tokens") -> str:
    """DuckDB twin of sample_to_budget over any source: recomputes the
    total, the floor threshold and the hex compare in SQL (printf pads
    the threshold to the compare width)."""
    return f"""
SELECT s.* FROM ({source_sql}) s,
  (SELECT CASE WHEN coalesce(sum({tokens_expr}), 0) <= 0 THEN {_SPACE}
     ELSE least({_SPACE}, CAST(floor(
       least(1.0, {budget} / CAST(sum({tokens_expr}) AS DOUBLE))
       * {_SPACE}) AS BIGINT)) END AS thr
   FROM ({source_sql})) t
WHERE t.thr >= {_SPACE}
   OR {key_hex_sql('s.' + key_expr)} < printf('%0{HEX_DIGITS}x', t.thr)
"""
