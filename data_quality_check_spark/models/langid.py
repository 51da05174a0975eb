"""fastText-style language identification, from scratch in numpy.

A hashed character-trigram naive-Bayes / linear model: per language,
log P(trigram | lang) over 2^16 hash buckets with add-k smoothing, trained
deterministically on the embedded seed corpus (corpus.SENTENCES). Scoring a
batch is pure numpy over ONE concatenated buffer (models/hashing.py) — no
per-row Python, matching the north rule's "model broadcast per executor,
zero per-row Python".

The model object is a plain dict of numpy arrays → cheaply picklable for
`SparkContext.broadcast`, loaded once per executor, shared by every Arrow
batch via the iterator-form pandas UDF (functions/udfs.py).
"""

from __future__ import annotations

import numpy as np

from .. import corpus
from . import hashing

ORDER = 3
UNKNOWN = "und"
# Sharpening factor for the per-char average log-likelihood softmax: makes
# confident predictions approach 1.0 while staying deterministic.
_SHARPEN = 24.0


def train(sentences: dict[str, list[str]] | None = None) -> dict:
    """Train the classifier; returns {'langs': np.array[str], 'table': [L,B]}."""
    sentences = sentences if sentences is not None else corpus.SENTENCES
    langs = sorted(sentences)
    table = np.zeros((len(langs), hashing.N_BUCKETS), dtype=np.float64)
    for i, lang in enumerate(langs):
        table[i] = hashing.smoothed_log_probs(
            hashing.count_table(sentences[lang], ORDER))
    return {"langs": np.array(langs, dtype=object), "table": table}


def predict(texts, model: dict):
    """Predict (lang, conf) for a batch of texts.

    Returns (langs: object ndarray, conf: float64 ndarray). Texts shorter
    than ORDER bytes get ("und", 0.0).
    """
    n = len(texts)
    if n == 0:
        return np.empty(0, dtype=object), np.empty(0, dtype=np.float64)
    _a, _starts, h, seg, _vpos = hashing.trigram_pass(texts)
    return predict_pass(n, h, seg, model)


def predict_pass(n: int, h, seg, model: dict):
    """Score from a precomputed trigram pass (shared with the char LM)."""
    langs = model["langs"]
    table = model["table"]
    L = table.shape[0]
    cnt = np.bincount(seg, minlength=n).astype(np.float64)
    avg = np.zeros((L, n), dtype=np.float64)
    safe_cnt = np.maximum(cnt, 1.0)
    for i in range(L):
        avg[i] = hashing.segment_sum(table[i, h], seg, n) / safe_cnt
    # per-char-sharpened softmax over languages
    z = avg * _SHARPEN
    z -= z.max(axis=0, keepdims=True)
    p = np.exp(z)
    p /= p.sum(axis=0, keepdims=True)
    best = np.argmax(p, axis=0)
    out_lang = langs[best].copy()
    out_conf = p[best, np.arange(n)]
    empty = cnt < 1.0
    out_lang[empty] = UNKNOWN
    out_conf = np.where(empty, 0.0, out_conf)
    return out_lang, out_conf
