"""KenLM-style character n-gram language model with stupid backoff, in numpy.

Order-3 character LM over hashed buckets, trained on the embedded seed
corpus (all supported languages combined). Per-window log-probability:

    lp(w) = log P3(w)                      if trigram bucket seen in training
          = log(ALPHA) + log P2s(suffix)   otherwise (stupid backoff to the
                                           add-k-smoothed bigram estimate)

Perplexity of a text = exp(-mean window lp). Scoring is fully vectorized
over one concatenated buffer (models/hashing.py); float64 per-row math so
values are independent of batch geometry.

Texts with no complete trigram get PPL_EMPTY (a deterministic sentinel far
above any real perplexity) so the max_perplexity rule drops them.
"""

from __future__ import annotations

import numpy as np

from .. import corpus
from . import hashing

ORDER = 3
ALPHA = 0.4
PPL_EMPTY = 1.0e6


def train(sentences: list[str] | None = None) -> dict:
    """Train the LM; returns dict of numpy arrays (broadcast-friendly)."""
    if sentences is None:
        # all four languages, so natural text in any supported language
        # scores in-domain; junk/symbol-soup stays far out-of-domain
        sentences = [
            s for lang in sorted(corpus.SENTENCES)
            for s in corpus.SENTENCES[lang]
        ]
    c3 = hashing.count_table(sentences, ORDER)
    c2 = hashing.count_table(sentences, ORDER - 1)
    # log P3 only valid where c3>0; store -inf elsewhere (never read there)
    with np.errstate(divide="ignore"):
        lp3 = np.log(c3 / c3.sum())
    lp2s = hashing.smoothed_log_probs(c2)
    seen3 = c3 > 0
    return {"lp3": lp3, "lp2s": lp2s, "seen3": seen3}


def perplexity(texts, model: dict) -> np.ndarray:
    """Char-LM perplexity per text (float64 ndarray)."""
    n = len(texts)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    a, _starts, h3, seg3, vpos = hashing.trigram_pass(texts)
    return perplexity_pass(n, a, h3, seg3, vpos, model)


def perplexity_pass(n: int, a, h3, seg3, vpos, model: dict) -> np.ndarray:
    """Score from a precomputed trigram pass (shared with langid).

    Stupid backoff: the bigram suffix (bytes p+1, p+2) of each trigram
    window, gathered at vpos and hashed by the kernel's formula
    (hashing.window_hash) — the bucket hashing.ngram_hashes(order=2)
    gives the same window.
    """
    lp = np.where(
        model["seen3"][h3],
        model["lp3"][h3],
        np.log(ALPHA) + model["lp2s"][_suffix_hash(a, vpos)],
    )
    total = hashing.segment_sum(lp, seg3, n)
    cnt = np.bincount(seg3, minlength=n).astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        ppl = np.exp(-total / np.maximum(cnt, 1.0))
    return np.where(cnt < 1.0, PPL_EMPTY, ppl)


def _suffix_hash(a, vpos):
    return hashing.window_hash([a[vpos + 1], a[vpos + 2]])
