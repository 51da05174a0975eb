"""Distributed n-gram language-model estimation over a text corpus.

The scoring models (models/ngram.py) train driver-side on seed
sentences — fine for the filter's reference LM, but a real pipeline
estimates its LM from the corpus itself. These operators are that step
at corpus scale: n-gram occurrence counts and conditional probabilities
as pure DataFrame aggregations.

Scale shape: the n-gram explode is narrow; counting is ONE map-side-
combinable groupBy on the n-gram key (only distinct (ngram, partial
count) pairs shuffle); conditional probabilities join the (n-1)-gram
context counts on the context key — a shuffle join (both sides are
corpus-vocabulary-sized; a hot context like 'the' sits on the probe
side of a skew-splittable SMJ under AQE, never in a window sort).
Probabilities are emitted µ-scaled (floor(p·1e6)) so both engines
compare integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.rules import WS, word_ngrams, ws_words


def ngram_counts(docs: DataFrame, n: int = 2, text_col: str = "text",
                 min_count: int = 1) -> DataFrame:
    """Occurrence counts of word n-grams (lowercased, whitespace-split),
    as (ngram, n_occurrences). Unlike dedup's shingle_set this counts
    every occurrence (no per-doc distinct) — it estimates a distribution,
    not a membership set."""
    # words in their OWN projection first (rules.word_ngrams)
    wdf = docs.select(ws_words(F.lower(F.col(text_col))).alias("_ws"))
    ws = F.col("_ws")
    grams = F.when(F.size(ws) >= n, word_ngrams(ws, n)).otherwise(F.array())
    out = (wdf.select(F.explode(grams).alias("ngram"))
           .groupBy("ngram")
           .agg(F.count(F.lit(1)).alias("n_occurrences")))
    if min_count > 1:
        out = out.filter(F.col("n_occurrences") >= min_count)
    return out


def bigram_model(docs: DataFrame, text_col: str = "text",
                 min_count: int = 1) -> DataFrame:
    """Maximum-likelihood bigram LM: (w1, w2, n_pair, p_u) where
    p_u = floor(1e6 · c(w1 w2) / c(w1·)) and c(w1·) counts w1 only as a
    bigram CONTEXT (its occurrences as the first word), so probabilities
    per context sum to ~1. Two map-side-combinable aggregates + one
    context-keyed join; integer-scaled for engine-exact comparison."""
    wdf = docs.select(ws_words(F.lower(F.col(text_col))).alias("_ws"))
    ws = F.col("_ws")
    nw = F.size(ws)
    pairs = F.when(nw >= 2, F.transform(
        F.sequence(F.lit(0), nw - 2),
        lambda i: F.struct(ws[i].alias("w1"), ws[i + 1].alias("w2")),
    )).otherwise(F.array())
    p = wdf.select(F.explode(pairs).alias("p")) \
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    # context counts derive from the PAIR counts (c(w1·) = Σ_w2 c(w1,w2)
    # by definition) — the corpus is exploded and counted exactly once;
    # the second aggregate runs over the far smaller distinct-pair table.
    # localCheckpoint: pair_counts feeds both that rollup and the join.
    pair_counts = (p.groupBy("w1", "w2")
                   .agg(F.count(F.lit(1)).alias("n_pair"))
                   .localCheckpoint())
    ctx_counts = (pair_counts.groupBy("w1")
                  .agg(F.sum("n_pair").alias("n_ctx")))
    out = (pair_counts.join(ctx_counts, "w1")
           .select(
               "w1", "w2", "n_pair",
               F.floor(F.col("n_pair") * 1e6 / F.col("n_ctx"))
               .cast("long").alias("p_u")))
    if min_count > 1:
        out = out.filter(F.col("n_pair") >= min_count)
    return out


def ngram_counts_sql(n: int = 2, table: str = "documents",
                     min_count: int = 1) -> str:
    """DuckDB twin of ngram_counts, generated from the same params."""
    having = (f"HAVING count(*) >= {min_count}" if min_count > 1 else "")
    return f"""
WITH words AS (
  SELECT list_filter(string_split_regex(lower(text), '{WS}'),
                     w -> w <> '') AS ws
  FROM {table}
),
grams AS (
  SELECT unnest(CASE WHEN len(ws) >= {n} THEN
    list_transform(range(0, len(ws) - {n - 1}),
      i -> array_to_string(ws[i+1 : i+{n}], ' '))
    ELSE [] END) AS ngram
  FROM words
)
SELECT ngram, count(*) AS n_occurrences FROM grams GROUP BY ngram {having}
"""


def bigram_model_sql(table: str = "documents",
                     min_count: int = 1) -> str:
    """DuckDB twin of bigram_model."""
    where = f"WHERE n_pair >= {min_count}" if min_count > 1 else ""
    return f"""
WITH words AS (
  SELECT list_filter(string_split_regex(lower(text), '{WS}'),
                     w -> w <> '') AS ws
  FROM {table}
),
p AS (
  SELECT ws[i+1] AS w1, ws[i+2] AS w2
  FROM words, LATERAL unnest(
    CASE WHEN len(ws) >= 2 THEN range(0, len(ws) - 1) ELSE [] END) t(i)
),
pc AS (SELECT w1, w2, count(*) AS n_pair FROM p GROUP BY w1, w2),
cc AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_ctx
       FROM pc GROUP BY w1)
SELECT pc.w1, pc.w2, pc.n_pair,
  CAST(floor(pc.n_pair * 1e6 / cc.n_ctx) AS BIGINT) AS p_u
FROM pc JOIN cc ON pc.w1 = cc.w1 {where}
"""
