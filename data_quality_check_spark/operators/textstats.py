"""Text-analysis operators: token counting, quality scoring, fingerprinting,
language ID — the document-corpus views of the transcript rules.

All native expressions (whole-stage codegen); langid is the broadcast-model
pandas UDF from functions/udfs.py. Fingerprints use md5 (identical builtin
in Spark and DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT_RULESET, RuleSet
from ..functions import rules
from ..operators.dedup import fingerprint
from ..operators.guards import barrier_filter


# BPE-ish subword estimate: BPE pre-tokenizes into letter runs / digit
# runs / single symbols, then merges within each piece — common short
# pieces end up ~1 token, long or numeric pieces split roughly every few
# chars. The estimator is that second stage as a PURE LENGTH FUNCTION
# (deterministic, engine-twinnable): ceil(len/6) per letter run,
# ceil(len/3) per digit run (BPE vocabularies carry few multi-digit
# merges), 1 per symbol. Calibrated loosely against GPT-2-family
# tokenizers (~4 chars/token on English prose); the point is a budget
# UNIT that tracks real subword counts, not whitespace words — shard
# budgets built on it are meaningful for training (r3 verdict #6).
BPE_LETTER_CHARS = 6
BPE_DIGIT_CHARS = 3

_PIECES_RE = "([A-Za-zÀ-ÖØ-öø-ÿ]+|[0-9]+|[^A-Za-z0-9À-ÖØ-öø-ÿ \t\n\r])"


def _pieces(text):
    return rules.ws_words(F.regexp_replace(text, _PIECES_RE, " $1 "))


# The piece classes are HOMOGENEOUS BY CONSTRUCTION (the segmentation
# regex emits letter runs, digit runs, or single symbols), so the class
# of a piece is decided by its FIRST CODEPOINT — integer range checks,
# cheaper than anchored regex probes inside the interpreted HOF lambda.
# Ranges mirror the segmentation class [A-Za-zÀ-ÖØ-öø-ÿ] / [0-9]
# exactly; the DuckDB twin keeps the regex formulation on purpose — an
# independent derivation of the same classification, cross-checked by
# the gate hash.
_LETTER_RANGES = ((65, 90), (97, 122), (192, 214), (216, 246), (248, 255))


def bpe_tokens_from_pieces(pieces_col) -> object:
    """Subword estimate over an ALREADY-COMPUTED pieces array column
    (lets token_counts share one segmentation pass across n_pieces and
    the estimate)."""
    def est(p):
        c = F.ascii(p)
        is_digit = (c >= 48) & (c <= 57)
        is_letter = F.lit(False)
        for lo, hi in _LETTER_RANGES:
            is_letter = is_letter | ((c >= lo) & (c <= hi))
        return (F.when(is_digit,
                       F.floor((F.length(p) + (BPE_DIGIT_CHARS - 1))
                               / BPE_DIGIT_CHARS))
                .when(is_letter,
                      F.floor((F.length(p) + (BPE_LETTER_CHARS - 1))
                              / BPE_LETTER_CHARS))
                .otherwise(F.lit(1).cast("long")))

    return F.coalesce(
        F.aggregate(F.transform(pieces_col, est),
                    F.lit(0).cast("long"), lambda a, v: a + v),
        F.lit(0).cast("long"))


def bpe_token_estimate(text) -> object:
    """Deterministic subword-token estimate of a text column (see the
    constants above)."""
    return bpe_tokens_from_pieces(_pieces(text))


def bpe_token_estimate_sql(text_expr: str = "text") -> str:
    """DuckDB twin of bpe_token_estimate, generated from the same
    constants — the engines cannot drift."""
    pieces = rules.ws_words_sql(
        f"regexp_replace({text_expr}, '{_PIECES_RE}', ' \\1 ', 'g')")
    return f"""coalesce(CAST(list_sum(list_transform({pieces}, p ->
  CASE WHEN regexp_matches(p, '^[0-9]+$')
       THEN CAST(floor((length(p) + {BPE_DIGIT_CHARS - 1})
                 / {BPE_DIGIT_CHARS}.0) AS BIGINT)
       WHEN regexp_matches(p, '^[A-Za-zÀ-ÖØ-öø-ÿ]+$')
       THEN CAST(floor((length(p) + {BPE_LETTER_CHARS - 1})
                 / {BPE_LETTER_CHARS}.0) AS BIGINT)
       ELSE 1 END)) AS BIGINT), 0)"""


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens, BPE-ish pre-tokenization piece count (letter
    runs / digit runs / single symbols), and the subword-token estimate
    (bpe_token_estimate) — the budget unit for shard packing."""
    text = F.col(text_col)
    # one segmentation pass shared by n_pieces and the subword estimate
    # (the pieces regexp is the expensive part — own projection, same
    # rule as shingle_set)
    pre = docs.select("doc_id", text.alias("_t"),
                      _pieces(text).alias("_p"),
                      rules.ws_token_count(text).alias("n_tokens"))
    return pre.select(
        "doc_id",
        F.coalesce(F.length("_t"), F.lit(0)).alias("n_chars"),
        F.col("n_tokens"),
        F.coalesce(F.size("_p"), F.lit(0)).alias("n_pieces"),
        bpe_tokens_from_pieces(F.col("_p")).alias("n_tokens_bpe"),
    )


def quality_scores(docs: DataFrame, cfg: RuleSet = DEFAULT_RULESET,
                   text_col: str = "text") -> DataFrame:
    """Per-document heuristic quality features + pass/fail flag, reusing the
    transcript rule expressions verbatim — with the shared word/line
    arrays materialized once per row (split_columns), same as the
    pipeline's label_turns; the single-expression feature form re-runs
    the split per consuming feature."""
    text = F.col(text_col)
    docs = docs.withColumns(rules.split_columns(text))
    feats = rules.feature_columns_from(text, F.col("_words"),
                                       F.col("_lines"))
    flags = rules.heuristic_flags(feats, text, cfg)
    reasons = rules.reasons_array(flags)
    return docs.select(
        "doc_id",
        feats["n_words"].alias("n_words"),
        feats["n_chars"].alias("n_chars"),
        feats["mean_word_len"].alias("mean_word_len"),
        feats["symbol_ratio"].alias("symbol_ratio"),
        feats["stopword_frac"].alias("stopword_frac"),
        feats["alpha_frac"].alias("alpha_frac"),
        reasons.alias("fail_reasons"),
        (F.size(reasons) == 0).alias("passes"),
    )


def quality_pass_ids(docs: DataFrame, cfg: RuleSet = DEFAULT_RULESET,
                     text_col: str = "text") -> DataFrame:
    """doc_ids passing the heuristic quality rules — the filter stage of
    the curation chains, with the predicate-pushdown barrier.

    `quality_scores(...).filter("passes")` lets PushDownPredicates
    substitute the whole reasons expression into the filter, re-expanding
    every feature inline (the text re-splits ~9x per row);
    guards.barrier_filter keeps the filter above the shared feature
    projections so the split/translate work runs once per row."""
    return (barrier_filter(quality_scores(docs, cfg, text_col),
                           F.col("passes"))
            .select("doc_id"))


def fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over normalized text (stable across
    engines), used as the exact-dedup key."""
    return docs.select(
        "doc_id",
        fingerprint(F.col(text_col)).alias("fingerprint"),
    )


def langid_table(docs: DataFrame, bc_models, text_col: str = "text") -> DataFrame:
    """Language-ID over a document corpus via the broadcast numpy model."""
    from ..functions.udfs import make_scores_udf

    scores = make_scores_udf(bc_models)
    return (
        docs.withColumn("_s", scores(F.col(text_col)))
        .select("doc_id", F.col("_s.lang").alias("lang_pred"),
                F.col("_s.lang_conf").alias("lang_conf"),
                F.col("_s.ppl").alias("ppl"))
    )


def quality_model_table(docs: DataFrame, bc_models,
                        text_col: str = "text",
                        threshold: float | None = None) -> DataFrame:
    """Learned quality-classifier scoring over a document corpus
    (models/quality.py): (doc_id, q_score, keep_quality). The primary
    gate of CCNet/FineWeb-style pipelines — a broadcast linear model over
    hashed trigrams, scored batch-at-a-time with zero per-row Python."""
    from ..functions.udfs import make_quality_udf
    from ..models import quality

    thr = quality.THRESHOLD if threshold is None else threshold
    qs = make_quality_udf(bc_models)
    return (
        docs.withColumn("_q", qs(F.col(text_col)))
        .select("doc_id", F.col("_q").alias("q_score"),
                (F.col("_q") >= F.lit(float(thr))).alias("keep_quality"))
    )


def score_buckets(scored: DataFrame, n_buckets: int = 10,
                  score_col: str = "q_score", id_col: str = "doc_id",
                  scale: int = 1_000_000) -> DataFrame:
    """EXACT quantile bucketing of a bounded score column — the
    curriculum/mixing tiers real pipelines cut a quality score into
    (e.g. FineWeb-style "keep top-k deciles", quality-annealed data
    schedules).

    Scale shape: a global ntile would sort the whole corpus in one
    partition. Instead, scores in [0, 1] are keyed to floor(score·scale)
    — a VALUE-SPACE histogram of ≤ scale+1 rows regardless of corpus
    size — aggregated map-side; the exclusive-cumsum window then runs
    over the tiny histogram (never the data), and rows get buckets via a
    broadcast join on the integer key. bucket = (n·cum_before) div N in
    pure integer arithmetic → engine-exact, deterministic, and ties
    (equal keys) land in one bucket by construction.

    SIDE EFFECT: two eager jobs — the (id, key) table localCheckpoints
    (three consumers: histogram, total, join — without it the upstream
    scoring subtree would run three times; 16 B/row, the repo's
    materialize-once discipline) and the scalar total collects (bounded,
    like mixing.py's)."""
    k = F.floor(F.col(score_col) * scale).cast("long")
    keyed = scored.select(F.col(id_col), k.alias("_k")).localCheckpoint()
    hist = keyed.groupBy("_k").agg(F.count(F.lit(1)).alias("_c"))
    total = int(hist.agg(F.sum("_c")).collect()[0][0] or 0)
    buckets = hist.select(
        "_k",
        F.least(
            F.lit(n_buckets - 1),
            F.expr(f"({n_buckets} * coalesce(sum(_c) over (order by _k "
                   f"rows between unbounded preceding and 1 preceding), "
                   f"0)) div {total}"),
        ).cast("int").alias("bucket"),
    )
    return keyed.join(F.broadcast(buckets), "_k") \
        .select(id_col, "bucket")


def chunk_documents(docs: DataFrame, max_tokens: int = 128,
                    overlap: int = 0, text_col: str = "text",
                    min_tokens: int = 1) -> DataFrame:
    """Context-window chunking: split each document into whitespace-token
    windows of `max_tokens` with `overlap` tokens of lookback — the
    standard training-data packing step before tokenization.

    Pure narrow expressions (split → sequence → transform → posexplode):
    no shuffle, no Python, composes with scans; a 100 TB corpus chunks at
    scan speed. Windows start every (max_tokens - overlap) tokens; the
    final short window is kept when it has ≥ min_tokens tokens (runts from
    pure-overlap tails are dropped).

    Output: (doc_id, chunk_idx, n_tokens, chunk) — chunk text is the
    space-joined token window (whitespace canonicalized, same as the
    reference's D7 tokenizer discipline).
    """
    if not (0 <= overlap < max_tokens):
        raise ValueError("need 0 <= overlap < max_tokens")
    step = max_tokens - overlap
    # words materialized in its own projection: the window transform
    # slices it per chunk, and an inlined split would re-run per slice
    # (see shingle_set — measured ~12x)
    wdf = docs.select("doc_id",
                      rules.ws_words(F.col(text_col)).alias("_ws"))
    words = F.col("_ws")
    n = F.size(words)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(step))
    chunks = F.transform(
        starts, lambda s: F.slice(words, s + 1, max_tokens))
    out = (
        wdf.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "w"))
        .select(
            "doc_id", "chunk_idx",
            F.size("w").alias("n_tokens"),
            F.array_join("w", " ").alias("chunk"),
        )
        .filter(F.col("n_tokens") >= min_tokens)
    )
    return out


def chunk_documents_sql(max_tokens: int = 128, overlap: int = 0,
                        min_tokens: int = 1) -> str:
    """DuckDB twin of chunk_documents over the `documents` view, generated
    from the same parameters."""
    step = max_tokens - overlap
    return f"""
WITH words AS (
  SELECT doc_id, {rules.ws_words_sql('text')} AS ws
  FROM documents
),
chunks AS (
  SELECT doc_id, gs AS start_idx,
    ws[gs + 1 : gs + {max_tokens}] AS w
  FROM words,
    LATERAL unnest(range(0, greatest(len(ws), 1), {step})) AS t(gs)
)
SELECT doc_id,
  CAST(start_idx / {step} AS INT) AS chunk_idx,
  len(w) AS n_tokens,
  array_to_string(w, ' ') AS chunk
FROM chunks
WHERE len(w) >= {min_tokens}
"""


def vocab_topk(docs: DataFrame, k: int = 100,
               text_col: str = "text") -> DataFrame:
    """Corpus vocabulary: the k most frequent whitespace tokens
    (lowercased), ties broken lexicographically.

    Plan shape for 100 TB: explode → hash-agg with map-side combine (only
    distinct (token, partial-count) pairs shuffle) → TakeOrderedAndProject
    (per-partition top-k, single small merge — never a global sort of the
    vocabulary)."""
    text = F.col(text_col)
    tokens = docs.select(
        F.explode(rules.ws_words(F.lower(text))).alias("token"))
    counts = tokens.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    return counts.orderBy(F.desc("n"), F.asc("token")).limit(k)


def vocab_topk_sql(k: int = 100) -> str:
    """DuckDB twin over the `documents` view."""
    return f"""
SELECT token, count(*) AS n FROM (
  SELECT unnest({rules.ws_words_sql('lower(text)')}) AS token
  FROM documents
)
GROUP BY token
ORDER BY n DESC, token
LIMIT {k}
"""


def lang_stats(docs: DataFrame) -> DataFrame:
    """Per-language corpus rollup over the documents table: doc count,
    total chars, mean chars (µ-scaled int for engine-stable compare)."""
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.floor(F.avg("n_chars") * 1e6).cast("long")
            .alias("mean_chars_u"),
        )
    )


LANG_STATS_SQL = """
SELECT lang, count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS total_chars,
  CAST(floor(avg(n_chars) * 1e6) AS BIGINT) AS mean_chars_u
FROM documents GROUP BY lang
"""
