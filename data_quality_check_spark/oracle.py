"""Single-process pure-Python oracle: the executable spec of the pipeline.

The reference keeps ONE function (`validate_json`,
/root/reference/data-quality-server/src/json_validation.rs:17-149) as the
single source of truth consumed by both the HTTP server and the CLI. This
module plays that role for the new engine: a straight-line Python
implementation of validation + heuristics + langid + perplexity + scrub,
written independently of the Spark Column expressions (functions/rules.py)
but sharing the regex CONSTANTS, the RuleSet thresholds, the numpy models,
and the scrub chain — so the pytest parity tests (tests/test_oracle_parity.py)
check three independent engines (Spark / DuckDB / this) against each other.

Per the north rule: Spark output must match this oracle's keep/drop decision
(F1 >= 0.99; in practice exactly 1.0) and scrubbed text byte-for-byte.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime
from typing import Any

from . import corpus
from .config import DEFAULT_RULESET, REASONS, RuleSet
from .functions.rules import ALPHA_RE, BULLET_RE, ELLIPSIS_RE, SYMBOL_CLASS, WS
from .functions.scrub import scrub_py
from .models import langid as langid_model
from .models import ngram as ngram_model

_WS_RE = re.compile(WS)
_SYM_RE = re.compile(SYMBOL_CLASS)
_ALPHA_RE = re.compile(ALPHA_RE)
_BULLET_RE = re.compile(BULLET_RE)
_ELLIPSIS_RE = re.compile(ELLIPSIS_RE)
_STOPS = frozenset(corpus.STOPWORDS_ALL)


@dataclass
class OracleRow:
    conv_id: str | None
    turn_idx: int | None
    role: str | None
    text: str | None
    tool: str | None
    ts: datetime | None
    keep: bool = True
    drop_reasons: list[str] = field(default_factory=list)
    text_scrubbed: str | None = None
    lang: str | None = None
    lang_conf: float | None = None
    ppl: float | None = None


def features(text: str | None) -> dict[str, float]:
    """Per-turn heuristic features; null text → all zeros.

    Mirrors functions/rules.py:feature_columns but written against Python
    str/re semantics (the constants are shared; the code is independent).
    """
    if text is None:
        return {k: 0 for k in (
            "n_chars", "n_words", "n_lines", "mean_word_len", "max_word_len",
            "symbol_ratio", "stopword_frac", "alpha_frac", "dup_line_frac",
            "bullet_frac", "ellipsis_frac")}
    words = [w for w in _WS_RE.split(text) if w != ""]
    lines = text.split("\n")
    n_chars = len(text)
    n_words = len(words)
    n_lines = len(lines)
    mean_wl = (sum(len(w) for w in words) / n_words) if n_words else 0.0
    max_wl = max((len(w) for w in words), default=0)
    n_sym = n_chars - len(_SYM_RE.sub("", text))
    symbol_ratio = n_sym / n_chars if n_chars else 0.0
    stopword_frac = (
        sum(1 for w in words if w.lower() in _STOPS) / n_words
        if n_words else 0.0
    )
    alpha_frac = (
        sum(1 for w in words if _ALPHA_RE.search(w)) / n_words
        if n_words else 0.0
    )
    dup_line_frac = 1.0 - len(set(lines)) / n_lines if n_lines else 0.0
    bullet_frac = (
        sum(1 for x in lines if _BULLET_RE.search(x)) / n_lines
        if n_lines else 0.0
    )
    ellipsis_frac = (
        sum(1 for x in lines if _ELLIPSIS_RE.search(x)) / n_lines
        if n_lines else 0.0
    )
    return {
        "n_chars": n_chars, "n_words": n_words, "n_lines": n_lines,
        "mean_word_len": mean_wl, "max_word_len": max_wl,
        "symbol_ratio": symbol_ratio, "stopword_frac": stopword_frac,
        "alpha_frac": alpha_frac, "dup_line_frac": dup_line_frac,
        "bullet_frac": bullet_frac, "ellipsis_frac": ellipsis_frac,
    }


def _row_reasons(r: OracleRow, f: dict, dup: int, cfg: RuleSet) -> set[str]:
    out: set[str] = set()
    # --- validation ---
    if r.text is None:
        out.add("null_text")
    if r.role is None:
        out.add("null_role")
    if r.role is not None and r.role not in cfg.role_vocab:
        out.add("bad_role")
    if r.turn_idx is None or r.turn_idx < 0:
        out.add("neg_turn_idx")
    if (r.tool is not None and r.role != "tool") or (
            r.tool is None and r.role == "tool"):
        out.add("tool_mismatch")
    if r.ts is None:
        out.add("null_ts")
    if dup > 1:
        out.add("dup_turn")
    # --- heuristics (only on non-null text) ---
    if r.text is not None:
        if f["n_words"] < cfg.min_words:
            out.add("too_few_words")
        if f["n_words"] > cfg.max_words:
            out.add("too_many_words")
        if f["n_words"] > 0 and (
                f["mean_word_len"] < cfg.min_mean_word_len
                or f["mean_word_len"] > cfg.max_mean_word_len):
            out.add("mean_word_len")
        if f["max_word_len"] > cfg.max_word_len:
            out.add("long_word")
        if f["symbol_ratio"] > cfg.max_symbol_ratio:
            out.add("symbol_ratio")
        if (f["n_words"] >= cfg.stopword_min_words
                and f["stopword_frac"] < cfg.min_stopword_frac):
            out.add("stopword_frac")
        if f["n_words"] > 0 and f["alpha_frac"] < cfg.min_alpha_word_frac:
            out.add("alpha_frac")
        if (f["n_lines"] >= cfg.dup_line_min_lines
                and f["dup_line_frac"] > cfg.max_dup_line_frac):
            out.add("dup_lines")
        if f["n_lines"] > 0 and f["bullet_frac"] > cfg.max_bullet_frac:
            out.add("bullet_frac")
        if f["n_lines"] > 0 and f["ellipsis_frac"] > cfg.max_ellipsis_frac:
            out.add("ellipsis_frac")
    return out


def label_turns(
    rows: list[dict[str, Any]],
    cfg: RuleSet = DEFAULT_RULESET,
    *,
    with_models: bool = True,
    models: dict | None = None,
) -> list[OracleRow]:
    """Label every turn: the oracle twin of plans/pipeline.py:label_turns."""
    out = [OracleRow(r.get("conv_id"), r.get("turn_idx"), r.get("role"),
                     r.get("text"), r.get("tool"), r.get("ts"))
           for r in rows]
    dup = Counter((r.conv_id, r.turn_idx) for r in out)
    if with_models:
        if models is None:
            models = {"langid": langid_model.train(),
                      "lm": ngram_model.train()}
        texts = [r.text for r in out]
        langs, confs = langid_model.predict(texts, models["langid"])
        ppls = ngram_model.perplexity(texts, models["lm"])
    for i, r in enumerate(out):
        reasons = _row_reasons(r, features(r.text), dup[(r.conv_id, r.turn_idx)], cfg)
        if with_models:
            r.lang = str(langs[i])
            r.lang_conf = float(confs[i])
            r.ppl = float(ppls[i])
            if r.text is not None and r.lang_conf < cfg.min_lang_conf:
                reasons.add("lang_conf")
            if r.text is not None and r.ppl > cfg.max_perplexity:
                reasons.add("perplexity")
        r.drop_reasons = [name for name in REASONS if name in reasons]
        r.keep = not r.drop_reasons
        r.text_scrubbed = scrub_py(r.text)
    return out


def keep_drop_f1(oracle_keep: list[bool], engine_keep: list[bool]) -> float:
    """F1 of the engine's keep decision against the oracle's (keep=positive)."""
    tp = sum(1 for o, e in zip(oracle_keep, engine_keep) if o and e)
    fp = sum(1 for o, e in zip(oracle_keep, engine_keep) if not o and e)
    fn = sum(1 for o, e in zip(oracle_keep, engine_keep) if o and not e)
    if tp == 0:
        return 0.0
    p = tp / (tp + fp)
    r = tp / (tp + fn)
    return 2 * p * r / (p + r)
