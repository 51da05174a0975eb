"""Validation + heuristic quality rules — native Spark Columns + DuckDB SQL.

This is the Spark generalization of the reference's per-record validation:
  * schema/constraint checks (reference D3+D5:
    /root/reference/dynamic-message/src/lib.rs:11-258 type dispatch +
    unknown-field rejection; json_validation.rs:165-194 field predicate)
    → null/role/turn_idx/tool/ts/duplicate checks on the transcript schema;
  * whitespace tokenization (reference D7, dynamic-message/src/lib.rs:287-293)
    → `split` + array functions, seeding the Gopher/C4 heuristic rules.

Everything here is a native Column expression (whole-stage codegen, no
Python), and every feature/rule has a DuckDB SQL twin generated from the
SAME regex constants and RuleSet thresholds, so the driver's oracle matches
structurally. Semantics of split/regexp/length were verified identical
across Spark/DuckDB/Python (tests/test_rules.py).

Scale note: every expression below is a narrow (per-row) transformation —
the only shuffle in the whole validation stage is the duplicate-(conv_id,
turn_idx) check, which partitions on the COMPOSITE key, so a single huge
conversation cannot skew it.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from .. import corpus
from ..config import RuleSet

# Shared regex constants (common Java/RE2/Python subset — explicit ASCII +
# Latin-1 classes, no \d \w \s \b).
WS = "[ \t\n\r]+"
SYMBOL_CLASS = "[^A-Za-z0-9À-ÖØ-öø-ÿ \t\n\r]"
ALPHA_RE = "[A-Za-zÀ-ÖØ-öø-ÿ]"
BULLET_RE = "^[ \t]*[-*•]"
ELLIPSIS_RE = "\\.\\.\\.$"

# Character-set twins of WS / SYMBOL_CLASS for translate()-based counting.
# Per-char translate is ~30x cheaper than regexp_replace in the hot path
# (measured 37s -> ~1s per 1M rows for symbol_ratio) and has identical
# per-codepoint semantics in Spark, DuckDB, and Python for these sets.
WS_CHARS = " \t\n\r"
LETTER_CHARS = (
    "".join(chr(c) for c in range(ord("A"), ord("Z") + 1))
    + "".join(chr(c) for c in range(ord("a"), ord("z") + 1))
    + "".join(chr(c) for c in range(0xC0, 0xD7))   # À-Ö
    + "".join(chr(c) for c in range(0xD8, 0xF7))   # Ø-ö
    + "".join(chr(c) for c in range(0xF8, 0x100))  # ø-ÿ
)
ALLOWED_CHARS = LETTER_CHARS + "0123456789" + WS_CHARS


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------

def feature_columns(text: Column) -> dict[str, Column]:
    """Per-turn heuristic features as native Columns (null text → zeros).

    Single-expression form (each feature self-contained) used by gate
    queries; the pipeline uses split_columns() + feature_columns_from() to
    compute the shared word/line arrays once per row.
    """
    return feature_columns_from(text, ws_words(text), F.split(text, "\n"))


def ws_words(text: Column) -> Column:
    """The whitespace words of `text`: split on WS, empty pieces dropped
    (the reference's D7 tokenizer). Every Spark-side whitespace word
    split goes through here; every DuckDB twin goes through
    ws_words_sql."""
    return F.filter(F.split(text, WS), lambda w: w != F.lit(""))


def ws_words_sql(expr: str) -> str:
    """DuckDB twin of ws_words over the SQL expression `expr`."""
    return f"list_filter(string_split_regex({expr}, '{WS}'), w -> w <> '')"


def word_ngrams(words: Column, n: int) -> Column:
    """The space-joined word n-grams of `words`, in order: zip_with over n
    shifted slices (r6: ~20% faster than per-position slice+array_join).
    Callers guard size(words) >= n themselves, and give `words` its OWN
    projection first: inlined, the split re-runs per slice, ~12x slower."""
    m = F.size(words) - (n - 1)
    grams = F.slice(words, 1, m)
    for j in range(2, n + 1):
        grams = F.zip_with(grams, F.slice(words, j, m),
                           lambda a, b: F.concat(a, F.lit(" "), b))
    return grams


def ws_token_count(text: Column) -> Column:
    """Number of whitespace words (0 for NULL text)."""
    return F.coalesce(F.size(ws_words(text)), F.lit(0))


def split_columns(text: Column) -> dict[str, Column]:
    """The two shared array columns, to materialize ONCE in a projection."""
    return {"_words": ws_words(text), "_lines": F.split(text, "\n")}


def feature_columns_from(text: Column, words: Column,
                         lines: Column) -> dict[str, Column]:
    n_words = F.coalesce(F.size(words), F.lit(0))
    n_lines = F.coalesce(F.size(lines), F.lit(0))
    n_chars = F.coalesce(F.length(text), F.lit(0))
    # sum of word lengths == count of non-whitespace chars (words are the
    # maximal non-WS runs) — translate() beats the aggregate() lambda ~15x
    sum_word_len = F.coalesce(
        F.length(F.translate(text, WS_CHARS, "")), F.lit(0)
    )
    mean_word_len = F.when(
        n_words > 0, sum_word_len.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    # translate strips the allowed set, so what remains IS the symbols
    n_sym = F.coalesce(
        F.length(F.translate(text, ALLOWED_CHARS, "")), F.lit(0)
    )
    symbol_ratio = F.when(
        n_chars > 0, n_sym.cast("double") / n_chars.cast("double")
    ).otherwise(F.lit(0.0))
    n_stop = F.coalesce(
        F.size(F.filter(
            words, lambda w: F.lower(w).isin(*corpus.STOPWORDS_ALL))),
        F.lit(0),
    )
    stopword_frac = F.when(
        n_words > 0, n_stop.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    # "contains a letter" via translate-length (cheaper than per-word regex
    # inside the interpreted higher-order function); same value as
    # rlike(ALPHA_RE) — both mean "≥1 char of LETTER_CHARS"
    n_alpha = F.coalesce(
        F.size(F.filter(
            words,
            lambda w: F.length(F.translate(w, LETTER_CHARS, ""))
            < F.length(w),
        )),
        F.lit(0),
    )
    alpha_frac = F.when(
        n_words > 0, n_alpha.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    n_distinct_lines = F.coalesce(F.size(F.array_distinct(lines)), F.lit(0))
    dup_line_frac = F.when(
        n_lines > 0,
        F.lit(1.0) - n_distinct_lines.cast("double") / n_lines.cast("double"),
    ).otherwise(F.lit(0.0))
    n_bullet = F.coalesce(
        F.size(F.filter(lines, lambda x: x.rlike(BULLET_RE))), F.lit(0)
    )
    bullet_frac = F.when(
        n_lines > 0, n_bullet.cast("double") / n_lines.cast("double")
    ).otherwise(F.lit(0.0))
    n_ellipsis = F.coalesce(
        F.size(F.filter(lines, lambda x: x.rlike(ELLIPSIS_RE))), F.lit(0)
    )
    ellipsis_frac = F.when(
        n_lines > 0, n_ellipsis.cast("double") / n_lines.cast("double")
    ).otherwise(F.lit(0.0))
    max_word_len = F.coalesce(
        F.array_max(F.transform(words, F.length)), F.lit(0)
    )
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "n_lines": n_lines,
        "mean_word_len": mean_word_len,
        "max_word_len": max_word_len,
        "symbol_ratio": symbol_ratio,
        "stopword_frac": stopword_frac,
        "alpha_frac": alpha_frac,
        "dup_line_frac": dup_line_frac,
        "bullet_frac": bullet_frac,
        "ellipsis_frac": ellipsis_frac,
    }


def validation_flags(df_cols: dict[str, Column], cfg: RuleSet,
                     dup_count: Column) -> list[tuple[str, Column]]:
    """Ordered (reason, condition) pairs for schema/constraint validation."""
    role, text, turn_idx, tool, ts = (
        df_cols["role"], df_cols["text"], df_cols["turn_idx"],
        df_cols["tool"], df_cols["ts"],
    )
    return [
        ("null_text", text.isNull()),
        ("null_role", role.isNull()),
        ("bad_role", role.isNotNull() & ~role.isin(*cfg.role_vocab)),
        ("neg_turn_idx", turn_idx.isNull() | (turn_idx < 0)),
        ("tool_mismatch",
         (tool.isNotNull() & (role.isNull() | (role != "tool")))
         | (tool.isNull() & (role == "tool"))),
        ("null_ts", ts.isNull()),
        ("dup_turn", dup_count > 1),
    ]


def heuristic_flags(feats: dict[str, Column], text: Column,
                    cfg: RuleSet) -> list[tuple[str, Column]]:
    """Ordered (reason, condition) pairs for the heuristic rules.

    All thresholds strict; rules only fire on non-null text.
    """
    nn = text.isNotNull()
    return [
        ("too_few_words", nn & (feats["n_words"] < cfg.min_words)),
        ("too_many_words", nn & (feats["n_words"] > cfg.max_words)),
        ("mean_word_len", nn & (feats["n_words"] > 0) & (
            (feats["mean_word_len"] < cfg.min_mean_word_len)
            | (feats["mean_word_len"] > cfg.max_mean_word_len))),
        ("long_word", nn & (feats["max_word_len"] > cfg.max_word_len)),
        ("symbol_ratio", nn & (feats["symbol_ratio"] > cfg.max_symbol_ratio)),
        ("stopword_frac", nn & (feats["n_words"] >= cfg.stopword_min_words)
         & (feats["stopword_frac"] < cfg.min_stopword_frac)),
        ("alpha_frac", nn & (feats["n_words"] > 0)
         & (feats["alpha_frac"] < cfg.min_alpha_word_frac)),
        ("dup_lines", nn & (feats["n_lines"] >= cfg.dup_line_min_lines)
         & (feats["dup_line_frac"] > cfg.max_dup_line_frac)),
        ("bullet_frac", nn & (feats["n_lines"] > 0)
         & (feats["bullet_frac"] > cfg.max_bullet_frac)),
        ("ellipsis_frac", nn & (feats["n_lines"] > 0)
         & (feats["ellipsis_frac"] > cfg.max_ellipsis_frac)),
    ]


def reasons_array(flags: list[tuple[str, Column]]) -> Column:
    """drop_reasons array<string> in canonical order (nulls filtered)."""
    return F.filter(
        F.array(*[F.when(cond, F.lit(name)) for name, cond in flags]),
        lambda x: x.isNotNull(),
    )


# ---------------------------------------------------------------------------
# DuckDB SQL twins (driver oracle) — generated from the same constants
# ---------------------------------------------------------------------------

def feature_sql(text: str = "text") -> dict[str, str]:
    """DuckDB SQL expression per feature, matching feature_columns()."""
    stops = ", ".join(f"'{s}'" for s in corpus.STOPWORDS_ALL)
    words = ws_words_sql(text)
    lines = f"string_split({text}, chr(10))"
    n_words = f"coalesce(len({words}), 0)"
    n_lines = f"coalesce(len({lines}), 0)"
    n_chars = f"coalesce(length({text}), 0)"
    # translate()-based twins of the Spark expressions (same char sets)
    ws_sql = "' ' || chr(9) || chr(10) || chr(13)"
    allowed_printable = (ALLOWED_CHARS.replace("\t", "").replace("\n", "")
                         .replace("\r", ""))
    allowed_sql = f"'{allowed_printable}' || chr(9) || chr(10) || chr(13)"
    sum_wl = f"coalesce(length(translate({text}, {ws_sql}, '')), 0)"
    mean_wl = (f"CASE WHEN {n_words} > 0 THEN CAST({sum_wl} AS DOUBLE)"
               f" / CAST({n_words} AS DOUBLE) ELSE 0.0 END")
    n_sym = f"coalesce(length(translate({text}, {allowed_sql}, '')), 0)"
    symbol_ratio = (f"CASE WHEN {n_chars} > 0 THEN CAST({n_sym} AS DOUBLE)"
                    f" / CAST({n_chars} AS DOUBLE) ELSE 0.0 END")
    n_stop = (f"coalesce(len(list_filter({words},"
              f" w -> list_contains([{stops}], lower(w)))), 0)")
    stopword_frac = (f"CASE WHEN {n_words} > 0 THEN CAST({n_stop} AS DOUBLE)"
                     f" / CAST({n_words} AS DOUBLE) ELSE 0.0 END")
    n_alpha = (f"coalesce(len(list_filter({words},"
               f" w -> regexp_matches(w, '{ALPHA_RE}'))), 0)")
    alpha_frac = (f"CASE WHEN {n_words} > 0 THEN CAST({n_alpha} AS DOUBLE)"
                  f" / CAST({n_words} AS DOUBLE) ELSE 0.0 END")
    n_dlines = f"coalesce(len(list_distinct({lines})), 0)"
    dup_line_frac = (f"CASE WHEN {n_lines} > 0 THEN 1.0 -"
                     f" CAST({n_dlines} AS DOUBLE) / CAST({n_lines} AS DOUBLE)"
                     f" ELSE 0.0 END")
    n_bullet = (f"coalesce(len(list_filter({lines},"
                f" x -> regexp_matches(x, '{BULLET_RE}'))), 0)")
    bullet_frac = (f"CASE WHEN {n_lines} > 0 THEN CAST({n_bullet} AS DOUBLE)"
                   f" / CAST({n_lines} AS DOUBLE) ELSE 0.0 END")
    n_ell = (f"coalesce(len(list_filter({lines},"
             f" x -> regexp_matches(x, '{ELLIPSIS_RE}'))), 0)")
    ellipsis_frac = (f"CASE WHEN {n_lines} > 0 THEN CAST({n_ell} AS DOUBLE)"
                     f" / CAST({n_lines} AS DOUBLE) ELSE 0.0 END")
    max_wl = f"coalesce(list_max(list_transform({words}, w -> length(w))), 0)"
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "n_lines": n_lines,
        "mean_word_len": mean_wl,
        "max_word_len": max_wl,
        "symbol_ratio": symbol_ratio,
        "stopword_frac": stopword_frac,
        "alpha_frac": alpha_frac,
        "dup_line_frac": dup_line_frac,
        "bullet_frac": bullet_frac,
        "ellipsis_frac": ellipsis_frac,
    }


def validation_flags_sql(cfg: RuleSet,
                         dup_count: str = "dup_count") -> list[tuple[str, str]]:
    vocab = ", ".join(f"'{r}'" for r in cfg.role_vocab)
    return [
        ("null_text", "text IS NULL"),
        ("null_role", "role IS NULL"),
        ("bad_role", f"role IS NOT NULL AND role NOT IN ({vocab})"),
        ("neg_turn_idx", "turn_idx IS NULL OR turn_idx < 0"),
        ("tool_mismatch",
         "(tool IS NOT NULL AND (role IS NULL OR role <> 'tool'))"
         " OR (tool IS NULL AND role = 'tool')"),
        ("null_ts", "ts IS NULL"),
        ("dup_turn", f"{dup_count} > 1"),
    ]


def heuristic_flags_sql(cfg: RuleSet,
                        f: dict[str, str] | None = None) -> list[tuple[str, str]]:
    f = f or feature_sql()
    nn = "text IS NOT NULL"
    return [
        ("too_few_words", f"{nn} AND {f['n_words']} < {cfg.min_words}"),
        ("too_many_words", f"{nn} AND {f['n_words']} > {cfg.max_words}"),
        ("mean_word_len",
         f"{nn} AND {f['n_words']} > 0 AND ({f['mean_word_len']} <"
         f" {cfg.min_mean_word_len} OR {f['mean_word_len']} >"
         f" {cfg.max_mean_word_len})"),
        ("long_word", f"{nn} AND {f['max_word_len']} > {cfg.max_word_len}"),
        ("symbol_ratio",
         f"{nn} AND {f['symbol_ratio']} > {cfg.max_symbol_ratio}"),
        ("stopword_frac",
         f"{nn} AND {f['n_words']} >= {cfg.stopword_min_words} AND"
         f" {f['stopword_frac']} < {cfg.min_stopword_frac}"),
        ("alpha_frac",
         f"{nn} AND {f['n_words']} > 0 AND {f['alpha_frac']} <"
         f" {cfg.min_alpha_word_frac}"),
        ("dup_lines",
         f"{nn} AND {f['n_lines']} >= {cfg.dup_line_min_lines} AND"
         f" {f['dup_line_frac']} > {cfg.max_dup_line_frac}"),
        ("bullet_frac",
         f"{nn} AND {f['n_lines']} > 0 AND {f['bullet_frac']} >"
         f" {cfg.max_bullet_frac}"),
        ("ellipsis_frac",
         f"{nn} AND {f['n_lines']} > 0 AND {f['ellipsis_frac']} >"
         f" {cfg.max_ellipsis_frac}"),
    ]


def reasons_sql(flags: list[tuple[str, str]]) -> str:
    cases = ", ".join(
        f"CASE WHEN {cond} THEN '{name}' END" for name, cond in flags
    )
    return f"list_filter([{cases}], x -> x IS NOT NULL)"
