"""Distributed BPE tokenizer TRAINING (learn the merge table from the
corpus) and learned-merge application — making the token-budget unit
self-contained (r4 verdict #3).

Algorithm (Sennrich et al. 2016, the standard subword-BPE): start from
per-word character sequences (plus an end-of-word marker), repeatedly
take the globally most frequent adjacent symbol pair and merge it into
one symbol. Each merge step is inherently sequential (step k+1's counts
depend on step k's merge), so training is a loop of small Spark jobs —
the distributed shape every corpus-scale BPE trainer has:

  * the working table is the DISTINCT-WORD vocabulary with counts, not
    the corpus: one map-side-combinable word count over the corpus, then
    every iteration touches only |vocab| rows (~10^6-10^7 at web scale,
    vs 10^11 docs);
  * pair counting per iteration is a narrow explode over the symbol
    array + one map-side-combinable sum;
  * the argmax pair comes back to the driver as ONE row per iteration
    (documented bounded collect — the merge decision IS the model);
  * merge application is a pure string expression (no shuffle); lineage
    is truncated with localCheckpoint every few iterations so the plan
    does not grow linearly with the merge count.

MERGE-APPLICATION SEMANTICS (shared with the SQL twin): greedy leftmost
non-overlapping, via the doubled-space trick — double every separator,
then replace ' l  r ' with ' lr '. Each pair occurrence owns one space
on each side, so consecutive occurrences ("a a a a" with merge a+a →
"aa aa") are all found in one left-to-right replace() pass; Spark's
Java String.replace and DuckDB's replace() both scan leftmost
non-overlapping, so the engines agree by construction and
bpe_merges_sql() re-derives the identical merge sequence.

Only explicit ASCII/Latin-1 regex classes are used (repo invariant);
the '(.)' char-split matches codepoints identically in Java and RE2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.rules import WS, ws_words

EOW = "</w>"
# truncate pathological "words" (base64 blobs, minified JS) before
# spelling them out: a 10^4-char token would explode into a 10^4-symbol
# sequence and dominate every iteration for zero vocab value
MAX_WORD_CHARS = 64
_CHECKPOINT_EVERY = 8


def _word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt) over the lowercased whitespace-token corpus — the one
    corpus-wide pass; everything after runs on the vocabulary."""
    return (
        docs.select(F.explode(ws_words(F.lower(F.col(text_col))))
                    .alias("word"))
        .filter(F.length("word") <= MAX_WORD_CHARS)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _spell(word_col) -> object:
    """'hello' -> 'h e l l o </w>' (space-separated symbol sequence)."""
    return F.concat(F.regexp_replace(word_col, "(.)", "$1 "), F.lit(EOW))


def _apply_merge(seq_col, left: str, right: str) -> object:
    """One merge step on a space-separated symbol sequence — the
    doubled-space greedy-leftmost replace (see module docstring)."""
    padded = F.concat(F.lit(" "),
                      F.replace(seq_col, F.lit(" "), F.lit("  ")),
                      F.lit(" "))
    merged = F.replace(padded,
                       F.lit(f" {left}  {right} "),
                       F.lit(f" {left}{right} "))
    return F.trim(F.replace(merged, F.lit("  "), F.lit(" ")))


# Below this many distinct words, the merge loop runs DRIVER-SIDE on the
# collected (word, cnt) vocabulary — how every standard BPE trainer
# works (the model is learned from the word-count dict, which is tiny
# relative to the corpus). 2M words × ~80 B ≈ 160 MB: a bounded,
# documented collect. Above it, the fully-distributed iteration loop
# runs instead; both paths share the same primitives, so the merge
# sequence is identical (pinned by tests).
DRIVER_VOCAB_MAX = 2_000_000


def bpe_train(docs: DataFrame, n_merges: int = 12,
              text_col: str = "text",
              driver_vocab_max: int = DRIVER_VOCAB_MAX) -> list[dict]:
    """Learn `n_merges` BPE merges from the corpus.

    Returns the merge table as a list of rows
    [{'step', 'left', 'right', 'merged', 'cnt'}, ...] in merge order —
    the model artifact (a few thousand rows at real vocab sizes; it
    broadcasts, never shuffles). Ties break on (count DESC, left ASC,
    right ASC) — total and engine-identical (binary string order).

    The corpus-wide word count always runs distributed (one map-side-
    combinable aggregate). The ITERATION loop then runs driver-side on
    the collected vocabulary when it has ≤ driver_vocab_max entries
    (bounded collect; one process instead of n_merges Spark jobs — the
    merge decisions depend only on the word-count dict), falling back to
    the distributed per-iteration loop for larger vocabularies. Both
    paths produce the identical merge sequence (same pair counting, same
    tie order, same doubled-space application — pinned by
    tests/test_bpe.py).

    SIDE EFFECT: runs eager Spark jobs (the word count, plus one argmax
    per merge on the distributed path) and localCheckpoints the working
    vocabulary — training is an action loop, not a lazy plan.
    """
    wc = _word_counts(docs, text_col).localCheckpoint()
    # probe and fetch in ONE job, through Arrow, as resolve_groups does: a
    # count() first adds jobs, and a row-based collect() py4j-decodes
    # every row; the driver holds at most driver_vocab_max + 1 words
    head = wc.limit(driver_vocab_max + 1).toPandas()
    if len(head) <= driver_vocab_max:
        return _train_driver(
            list(zip(head["word"].tolist(), head["cnt"].tolist())),
            n_merges)
    vocab = wc.select(_spell(F.col("word")).alias("seq"), "cnt") \
        .localCheckpoint()
    merges: list[dict] = []
    for step in range(n_merges):
        syms = F.split(F.col("seq"), " ")
        pairs = (
            vocab.select(syms.alias("_s"), "cnt")
            .select(F.explode(F.arrays_zip(
                F.slice(F.col("_s"), 1, F.size("_s") - 1).alias("l"),
                F.slice(F.col("_s"), 2, F.size("_s") - 1).alias("r"),
            )).alias("p"), "cnt")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("c"))
        )
        top = (pairs.orderBy(F.col("c").desc(), "l", "r").limit(1)
               .collect())  # ONE row per iteration, by design
        if not top:
            break
        left, right, cnt = top[0]["l"], top[0]["r"], int(top[0]["c"])
        merges.append({"step": step, "left": left, "right": right,
                       "merged": left + right, "cnt": cnt})
        vocab = vocab.select(
            _apply_merge(F.col("seq"), left, right).alias("seq"), "cnt")
        if (step + 1) % _CHECKPOINT_EVERY == 0:
            vocab = vocab.localCheckpoint()
    return merges


def _train_driver(word_counts: list[tuple[str, int]],
                  n_merges: int) -> list[dict]:
    """Driver-side merge loop over the collected vocabulary — identical
    semantics to the distributed loop (same pair weights, same
    (cnt DESC, l, r) argmax, same greedy-leftmost application via
    symbol-list scanning, which equals the doubled-space replace on
    space-free symbols)."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, c in word_counts:
        syms = tuple(list(w) + [EOW])
        vocab[syms] = vocab.get(syms, 0) + c
    merges: list[dict] = []
    for step in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        (left, right), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append({"step": step, "left": left, "right": right,
                       "merged": left + right, "cnt": cnt})
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == left
                        and syms[i + 1] == right):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + c
        vocab = new_vocab
    return merges


def merges_table(spark, merges: list[dict]) -> DataFrame:
    """The merge list as a DataFrame (step, lhs, rhs, merged, cnt) —
    lhs/rhs rather than left/right because LEFT/RIGHT are reserved words
    in ANSI SQL and the twin must alias the same names."""
    return spark.createDataFrame(
        [(m["step"], m["left"], m["right"], m["merged"], m["cnt"])
         for m in merges],
        "step int, lhs string, rhs string, merged string, cnt long")


def apply_merges_to_word(word: str, merges: list[dict]) -> list[str]:
    """Python reference: tokenize ONE word with the learned table (same
    greedy-leftmost semantics as the distributed form) — for tests and
    driver-side spot checks."""
    seq = " ".join(list(word)) + (" " if word else "") + EOW
    for m in merges:
        padded = " " + seq.replace(" ", "  ") + " "
        padded = padded.replace(f" {m['left']}  {m['right']} ",
                                f" {m['left']}{m['right']} ")
        seq = padded.replace("  ", " ").strip()
    return seq.split(" ")


def learned_token_counts(docs: DataFrame, merges: list[dict],
                         text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens_learned): per-doc subword count under the
    LEARNED merge table — the trained replacement for the fixed-rule
    textstats.bpe_token_estimate.

    Scale shape: the merge chain (N sequential string replaces) is
    applied to the DISTINCT lowercased tokens only — vocabulary-sized
    work — then piece counts join back to the exploded corpus and sum
    per doc. The join is a broadcast when the vocab is small, a
    word-keyed shuffle otherwise; either way the corpus text never
    carries the chain.
    """
    words = ws_words(F.lower(F.col(text_col)))
    tok = (docs.select("doc_id", F.explode(words).alias("word"))
           .withColumn("word", F.substring("word", 1, MAX_WORD_CHARS)))
    vocab = tok.select("word").distinct()
    seq = _spell(F.col("word"))
    for m in merges:
        seq = _apply_merge(seq, m["left"], m["right"])
    # own projection before size(split(...)): CollapseProject would
    # otherwise inline the whole replace chain into the size() argument
    # only once — harmless — but keeping the rule uniform (CLAUDE.md)
    pieces = (vocab.select("word", seq.alias("_seq"))
              .select("word",
                      F.size(F.split(F.col("_seq"), " ")).alias("n_pieces")))
    return (
        tok.join(pieces, "word")
        .groupBy("doc_id")
        .agg(F.sum("n_pieces").cast("long").alias("n_tokens_learned"))
    )


# ---------------------------------------------------------------------------
# DuckDB twin: the SAME training loop, unrolled to n_merges CTE stages
# ---------------------------------------------------------------------------

def _train_ctes(src_sql: str, n_merges: int) -> list[str]:
    """The unrolled training chain (w0 → v0 → p/t/v per merge) shared by
    bpe_merges_sql and bpe_apply_sql — one generator, no drift."""
    parts = [f"""
w0 AS MATERIALIZED (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text),
      '{WS}'), x -> x <> '')) AS w
    FROM ({src_sql})
  ) WHERE length(w) <= {MAX_WORD_CHARS}
  GROUP BY 1
),
v0 AS MATERIALIZED (
  SELECT rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' {EOW}'
           AS seq,
         cnt
  FROM w0
)"""]
    for k in range(n_merges):
        parts.append(f"""
p{k} AS MATERIALIZED (
  SELECT s[i] AS l, s[i + 1] AS r, CAST(sum(cnt) AS BIGINT) AS c
  FROM (SELECT string_split(seq, ' ') AS s, cnt FROM v{k}),
       LATERAL unnest(range(1, len(s))) t(i)
  GROUP BY 1, 2
),
t{k} AS MATERIALIZED (SELECT l, r, c FROM p{k} ORDER BY c DESC, l, r LIMIT 1),
v{k + 1} AS MATERIALIZED (
  SELECT trim(replace(
           replace(' ' || replace(seq, ' ', '  ') || ' ',
                   ' ' || l || '  ' || r || ' ',
                   ' ' || l || r || ' '),
           '  ', ' ')) AS seq,
         cnt
  FROM v{k}, t{k}
)""")
    return parts


def bpe_merges_sql(src_sql: str = "SELECT doc_id, text FROM documents",
                   n_merges: int = 12) -> str:
    """Generated DuckDB twin of bpe_train(): stage k recomputes the pair
    counts of the working vocabulary, takes the (cnt DESC, l, r) argmax,
    and applies the doubled-space greedy replace — the same formulas as
    the Spark loop, so the merge SEQUENCE (not just the set) must match.
    The iterative driver loop is unrolled into n_merges chained CTEs
    (same codegen-twin discipline as minhash_pairs_sql). Every CTE is
    MATERIALIZED: DuckDB inlines CTEs by default, which re-derives the
    whole v0..vk chain once per consumer — O(n_merges^2) stage
    evaluations (measured 363 s vs 0.6 s on the fixture)."""
    parts = _train_ctes(src_sql, n_merges)
    unions = "\nUNION ALL\n".join(
        f"SELECT {k} AS step, l AS lhs, r AS rhs, l || r AS merged, "
        f"c AS cnt FROM t{k}"
        for k in range(n_merges))
    return "WITH " + ",".join(parts) + "\n" + unions


def bpe_apply_sql(src_sql: str = "SELECT doc_id, text FROM documents",
                  n_merges: int = 12) -> str:
    """DuckDB twin of the full train→apply composition
    learned_token_counts(docs, bpe_train(docs)): the training chain
    learns the merges, then the application chain spells the distinct
    (truncated) corpus tokens and replays each learned merge with the
    SAME doubled-space replace, and piece counts join back to the
    exploded corpus — mirroring the Spark operator stage for stage."""
    parts = _train_ctes(src_sql, n_merges)
    parts.append(f"""
tok AS MATERIALIZED (
  SELECT doc_id,
    CASE WHEN length(w) > {MAX_WORD_CHARS}
         THEN substring(w, 1, {MAX_WORD_CHARS}) ELSE w END AS word
  FROM (
    SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),
      '{WS}'), x -> x <> '')) AS w
    FROM ({src_sql})
  )
),
s0 AS MATERIALIZED (
  SELECT word,
    rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' {EOW}' AS seq
  FROM (SELECT DISTINCT word FROM tok)
)""")
    for k in range(n_merges):
        parts.append(f"""
s{k + 1} AS MATERIALIZED (
  SELECT word, trim(replace(
           replace(' ' || replace(seq, ' ', '  ') || ' ',
                   ' ' || l || '  ' || r || ' ',
                   ' ' || l || r || ' '),
           '  ', ' ')) AS seq
  FROM s{k}, t{k}
)""")
    final = (f"\nSELECT doc_id, CAST(sum(len(string_split(seq, ' '))) "
             f"AS BIGINT) AS n_tokens_learned\n"
             f"FROM tok JOIN s{n_merges} USING (word) GROUP BY doc_id")
    return "WITH " + ",".join(parts) + final
