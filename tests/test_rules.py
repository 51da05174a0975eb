"""Rule/feature parity across the three engines + per-rule boundary tests.

Case design mirrors the reference's validator unit tests
(/root/reference/dynamic-message/tests/dynamic_message_tests.rs:21-152:
valid / type-mismatch / unknown-field / defaults), extended with the
threshold-boundary discipline SURVEY §5.2 requires: every rule is pinned
exactly AT its threshold (kept) and just past it (dropped).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from data_quality_check_spark import oracle
from data_quality_check_spark.config import DEFAULT_RULESET as CFG
from data_quality_check_spark.functions import rules

TEXTS = [
    "The weather today is sunny with a light breeze from the north.",
    "hi",
    "@@@ ### $$$ %%% ^^^ &&&",
    "a b c d e f g h i j",                      # 10 one-letter words
    "one\none\none",                             # duplicate lines
    "- a\n- b\n- c",                             # all bullets
    "wait...\nmore...\nok then",                 # ellipsis lines
    "x" * 61 + " and short words here",          # long word
    "tabs\tand  spaces\r\nnewlines mixed",
    "Ünïcödé wörds örder prüfung straße",
    "",
    "   ",
    "word " * 2500,                              # too many words
    "12 34 56 78 90 11 22 33 44 55",             # numeric words, no alpha
    "emoji 😀 and astral 𝔘𝔫𝔦 plus ürf",           # astral codepoints
    "😀😀😀",
]

FEATS = ("n_chars", "n_words", "n_lines", "mean_word_len", "max_word_len",
         "symbol_ratio", "stopword_frac", "alpha_frac", "dup_line_frac",
         "bullet_frac", "ellipsis_frac")


@pytest.fixture(scope="module")
def spark_feats(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)],
                               "i int, text string")
    f = rules.feature_columns(F.col("text"))
    rows = df.select("i", *[f[k].alias(k) for k in FEATS]).collect()
    return {r["i"]: r.asDict() for r in rows}


def test_features_spark_vs_oracle(spark_feats):
    for i, t in enumerate(TEXTS):
        exp = oracle.features(t)
        got = spark_feats[i]
        for k in FEATS:
            assert got[k] == pytest.approx(exp[k], abs=1e-12), (
                f"feature {k} on case {i}: spark={got[k]} oracle={exp[k]}")


def test_features_duckdb_vs_oracle():
    con = duckdb.connect()
    fsql = rules.feature_sql()
    sel = ", ".join(f"{fsql[k]} AS {k}" for k in FEATS)
    for i, t in enumerate(TEXTS):
        row = con.execute(
            f"SELECT {sel} FROM (SELECT ? AS text)", [t]
        ).fetchone()
        exp = oracle.features(t)
        for k, got in zip(FEATS, row):
            assert got == pytest.approx(exp[k], abs=1e-12), (
                f"feature {k} on case {i}: duck={got} oracle={exp[k]}")


# --- threshold boundaries: AT threshold keeps, past threshold drops ---

def _reasons(text, **row):
    base = {"conv_id": "c", "turn_idx": 0, "role": "user", "text": text,
            "tool": None, "ts": oracle.datetime(2024, 1, 1)}
    base.update(row)
    return set(oracle.label_turns([base], with_models=False)[0].drop_reasons)


def test_boundary_min_words():
    assert "too_few_words" not in _reasons("two words")        # == min kept
    assert "too_few_words" in _reasons("one")


def test_boundary_max_words():
    at = " ".join(["w"] * CFG.max_words)
    assert "too_many_words" not in _reasons(at)
    assert "too_many_words" in _reasons(at + " extra")


def test_boundary_symbol_ratio():
    # 10 chars, 3 symbols = 0.30 == max (strict >) → kept
    assert "symbol_ratio" not in _reasons("abcdefg@#$")
    assert "symbol_ratio" in _reasons("abcdef@#$%")            # 4/10


def test_boundary_long_word():
    assert "long_word" not in _reasons("x" * CFG.max_word_len + " ok")
    assert "long_word" in _reasons("x" * (CFG.max_word_len + 1) + " ok")


def test_boundary_stopword_applies_only_past_min_words():
    nine = "zz " * 8 + "zz"     # 9 words, no stopwords → rule dormant
    assert "stopword_frac" not in _reasons(nine)
    ten = "zz " * 9 + "zz"      # 10 words triggers the rule
    assert "stopword_frac" in _reasons(ten)


def test_validation_flags():
    assert "null_text" in _reasons(None)
    assert "bad_role" in _reasons("hello world", role="robot")
    assert "null_role" in _reasons("hello world", role=None)
    assert "neg_turn_idx" in _reasons("hello world", turn_idx=-1)
    assert "neg_turn_idx" in _reasons("hello world", turn_idx=None)
    assert "null_ts" in _reasons("hello world", ts=None)
    assert "tool_mismatch" in _reasons("hello world", tool="hammer")
    assert "tool_mismatch" in _reasons("hello world", role="tool", tool=None)
    assert "tool_mismatch" not in _reasons("hello world", role="tool",
                                           tool="search")


def test_dup_turn_detection():
    rows = [
        {"conv_id": "c", "turn_idx": 0, "role": "user", "text": "hello there",
         "tool": None, "ts": oracle.datetime(2024, 1, 1)},
        {"conv_id": "c", "turn_idx": 0, "role": "user", "text": "hello again",
         "tool": None, "ts": oracle.datetime(2024, 1, 1)},
        {"conv_id": "c", "turn_idx": 1, "role": "user", "text": "all fine",
         "tool": None, "ts": oracle.datetime(2024, 1, 1)},
    ]
    out = oracle.label_turns(rows, with_models=False)
    assert "dup_turn" in out[0].drop_reasons
    assert "dup_turn" in out[1].drop_reasons
    assert "dup_turn" not in out[2].drop_reasons


def test_reason_order_is_canonical():
    r = _reasons("@@@@ ####", role="robot", ts=None)
    ordered = [x for x in oracle.REASONS if x in r]
    row = {"conv_id": "c", "turn_idx": 0, "role": "robot", "text": "@@@@ ####",
           "tool": None, "ts": None}
    assert oracle.label_turns([row], with_models=False)[0].drop_reasons == ordered


def _cfg_reads(source: str) -> set[str]:
    """The attribute names `source` reads as `cfg.<name>`."""
    import ast
    import textwrap

    tree = ast.parse(textwrap.dedent(source))
    return {n.attr for n in ast.walk(tree)
            if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name)
            and n.value.id == "cfg"}


def test_no_dead_ruleset_field():
    """Every RuleSet field but `version` is a rule input: the Spark flags
    (rules.py, or pipeline.py for the model rules) and the oracle both
    read it as cfg.<field>, and the SQL flags read every field but the
    two model thresholds. A field that no engine reads is a setting that
    silently does nothing."""
    import dataclasses
    import inspect

    from data_quality_check_spark.config import RuleSet
    from data_quality_check_spark.plans import pipeline

    def reads(*objs):
        return set().union(*(_cfg_reads(inspect.getsource(o))
                             for o in objs))

    fields = {f.name for f in dataclasses.fields(RuleSet)} - {"version"}
    spark = reads(rules.validation_flags, rules.heuristic_flags,
                  pipeline.Labeler)
    sql = reads(rules.validation_flags_sql, rules.heuristic_flags_sql)
    assert sorted(fields - spark) == []
    assert sorted(fields - sql) == ["max_perplexity", "min_lang_conf"]
    assert sorted(fields - reads(oracle)) == []
