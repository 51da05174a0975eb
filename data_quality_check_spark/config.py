"""Versioned ruleset config — the analog of the reference's descriptor registry.

The reference keeps a runtime-mutable map of protobuf descriptors and rebuilds
a DescriptorPool on *every* validate request
(/root/reference/data-quality-server/src/handlers.rs:113-123,
 protobuf_descriptors.rs:98-121). In Spark the registry becomes an immutable,
versioned `RuleSet` loaded once on the driver and broadcast once per job —
the per-request rebuild inefficiency disappears by construction.

Threshold comparison directions are documented field-by-field; every rule
uses per-row float64 math so keep/drop decisions cannot flip with batch
geometry or parallelism.

Rule LISTS are not fields: all three engines read the stopwords and the
toxic lexicon from `corpus` (STOPWORDS_ALL, TOXIC_TERMS).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class RuleSet:
    """All thresholds for validation + heuristic + model rules.

    Naming: `min_*` rules drop when value < min; `max_*` rules drop when
    value > max (strict inequalities, so boundary values are kept).
    """

    version: str = "v1"

    # --- schema/constraint validation (reference D3+D5 analog:
    #     dynamic-message/src/lib.rs:11-258, json_validation.rs:165-194) ---
    role_vocab: tuple[str, ...] = ("user", "assistant", "system", "tool")

    # --- heuristic quality rules (Gopher/C4 style; seeded by reference D7
    #     whitespace tokenization, dynamic-message/src/lib.rs:287-293) ---
    min_words: int = 2            # drop if n_words < min_words
    max_words: int = 2000         # drop if n_words > max_words
    min_mean_word_len: float = 1.5   # drop if 0 < mean_word_len < min
    max_mean_word_len: float = 12.0  # drop if mean_word_len > max
    max_word_len: int = 60        # drop if any word longer than this
    max_symbol_ratio: float = 0.30   # non-alnum-non-space chars / chars
    min_stopword_frac: float = 0.01  # applies only when n_words >= stopword_min_words
    stopword_min_words: int = 10
    min_alpha_word_frac: float = 0.50  # fraction of words containing a letter
    max_dup_line_frac: float = 0.50    # 1 - distinct_lines/lines, when lines >= 3
    dup_line_min_lines: int = 3
    max_bullet_frac: float = 0.90      # lines starting with -, *, •
    max_ellipsis_frac: float = 0.30    # lines ending with ...

    # --- model rules (langid + perplexity) ---
    min_lang_conf: float = 0.30   # drop if lang_conf < min
    max_perplexity: float = 10000.0  # drop if char-LM ppl > max
    # (calibrated: natural 4-lang seed text ≈ 1.4k–2.6k, random junk ≈ 58k,
    #  symbol soup ≈ 159k — see tests/test_models.py)


# Ordered drop-reason names; drop_reasons arrays are always emitted in this
# order so output is deterministic and comparable byte-for-byte.
REASONS: tuple[str, ...] = (
    # validation
    "null_text",
    "null_role",
    "bad_role",
    "neg_turn_idx",
    "tool_mismatch",
    "null_ts",
    "dup_turn",
    # heuristics
    "too_few_words",
    "too_many_words",
    "mean_word_len",
    "long_word",
    "symbol_ratio",
    "stopword_frac",
    "alpha_frac",
    "dup_lines",
    "bullet_frac",
    "ellipsis_frac",
    # model rules (full pipeline only)
    "lang_conf",
    "perplexity",
)

DEFAULT_RULESET = RuleSet()
