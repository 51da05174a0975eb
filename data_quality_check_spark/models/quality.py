"""Learned document-quality classifier, from scratch in numpy.

The CCNet/FineWeb-style gate: a LINEAR model over hashed character
trigrams, trained on labeled good/bad documents, scoring the corpus so
curation can keep only docs above a probability threshold. Architecture
is identical to models/langid.py (hashed n-gram buckets + per-bucket
weights + a per-char average), so it shares the ONE trigram hashing pass
(models/hashing.trigram_pass) with langid and the perplexity LM — zero
per-row Python in the hot path, model broadcast once per executor.

Training is naive-Bayes log-odds (the closed-form optimum of the linear
model under the NB assumption): w[b] = log P(b|good) - log P(b|bad) with
add-k smoothing, computed from the embedded labeled pools
(corpus.SENTENCES as positives, corpus.QUALITY_NEGATIVES as negatives).
Deterministic — no iteration, no RNG, no data-order dependence.

Scoring: quality(text) = sigmoid(SHARPEN * mean_w), where mean_w is the
average weight of the text's trigram buckets. All arithmetic is float64
with a per-text-contiguous reduction order (np.bincount over segment
ids), so scores are BIT-IDENTICAL across batch geometry, partitioning
and parallelism — the invariant every model score in this repo carries
(CLAUDE.md), and what lets the DuckDB oracle join a Python-computed
score parquet byte-for-byte.

Reference ancestor: the content predicate of D5
(/root/reference/data-quality-server/src/json_validation.rs:165-194),
generalized from a fixed field-equality rule to a learned predicate.
"""

from __future__ import annotations

import numpy as np

from .. import corpus
from . import hashing

ORDER = 3
# Sharpening for the sigmoid over the mean per-window log-odds: spreads
# natural prose (mean_w ≈ +0.5..+2) and junk (mean_w ≈ -0.5..-3) to
# probabilities near 1.0 / 0.0 while keeping mid-scores informative.
_SHARPEN = 6.0
# Default keep threshold for curation gates.
THRESHOLD = 0.5


def train(pos: list[str] | None = None,
          neg: list[str] | None = None) -> dict:
    """Train the classifier; returns {'w': float64[N_BUCKETS]}.

    pos/neg default to the embedded labeled pools. The model dict is
    plain numpy → cheaply picklable for SparkContext.broadcast.
    """
    if pos is None:
        pos = [s for ss in corpus.SENTENCES.values() for s in ss]
    if neg is None:
        neg = corpus.QUALITY_NEGATIVES
    cp = hashing.count_table(pos, ORDER)
    cn = hashing.count_table(neg, ORDER)
    w = (
        np.log((cp + 0.5) / (cp.sum() + 0.5 * hashing.N_BUCKETS))
        - np.log((cn + 0.5) / (cn.sum() + 0.5 * hashing.N_BUCKETS))
    )
    return {"w": w}


def _counts_spark(df, text_col: str) -> np.ndarray:
    """Distributed trigram bucket counts: each Arrow batch computes its
    local count_table (windows never cross text boundaries, so per-batch
    tables SUM to the whole-corpus table exactly — integer arithmetic,
    order-free), emits its nonzero (bucket, n) rows, and one
    map-side-combinable groupBy reduces to ≤ N_BUCKETS rows collected to
    the driver. The corpus text never moves; the shuffle carries at most
    65k rows per map task."""
    from pyspark.sql import functions as F

    def emit(batches):
        # absolute and local: functions.udfs imports this module
        from data_quality_check_spark.functions.udfs import guard_zip_rereads
        guard_zip_rereads()
        import pandas as pd

        for p in batches:
            c = hashing.count_table(p[text_col].tolist(), ORDER)
            nz = np.nonzero(c)[0]
            yield pd.DataFrame({"bucket": nz.astype(np.int64),
                                "n": c[nz].astype(np.int64)})

    rows = (df.select(text_col).mapInPandas(emit, "bucket long, n long")
            .groupBy("bucket").agg(F.sum("n").alias("n")).collect())
    out = np.zeros(hashing.N_BUCKETS, dtype=np.float64)
    for r in rows:
        out[r["bucket"]] = float(r["n"])
    return out


def train_spark(pos_df, neg_df, text_col: str = "text") -> dict:
    """Train from corpus-scale labeled DataFrames — the CCNet shape
    (positives = a trusted corpus like Wikipedia, negatives = raw crawl)
    where the labeled sets are far too large to collect. Bucket counts
    aggregate distributedly (_counts_spark); the closed-form NB log-odds
    then computes on the driver over two 65k vectors. BIT-IDENTICAL to
    train(pos_texts, neg_texts) on the same texts (integer counts are
    order-free; the log-odds arithmetic is the same float64 expression)
    — pinned by tests/test_models.py."""
    cp = _counts_spark(pos_df, text_col)
    cn = _counts_spark(neg_df, text_col)
    w = (
        np.log((cp + 0.5) / (cp.sum() + 0.5 * hashing.N_BUCKETS))
        - np.log((cn + 0.5) / (cn.sum() + 0.5 * hashing.N_BUCKETS))
    )
    return {"w": w}


def train_from_sources(docs, pos_sources, neg_sources,
                       source_col: str = "source",
                       text_col: str = "text") -> dict:
    """Weak-supervision convenience: label by provenance (the practical
    way corpus-scale quality labels exist — trusted source names as
    positives, raw-crawl source names as negatives) and train
    distributedly."""
    from pyspark.sql import functions as F

    pos = docs.filter(F.col(source_col).isin(list(pos_sources)))
    neg = docs.filter(F.col(source_col).isin(list(neg_sources)))
    return train_spark(pos, neg, text_col)


def score_pass(n: int, h, seg, model: dict) -> np.ndarray:
    """Quality probabilities from a precomputed trigram pass (shared with
    langid/perplexity via models/scoring.score_batch)."""
    w = model["w"]
    cnt = np.bincount(seg, minlength=n).astype(np.float64)
    avg = hashing.segment_sum(w[h], seg, n) / np.maximum(cnt, 1.0)
    p = 1.0 / (1.0 + np.exp(-avg * _SHARPEN))
    # texts with no trigram window (None / < 3 bytes) score 0.0: an
    # empty doc is junk by definition, and the choice must be explicit
    # because the oracle twin recomputes the keep flag from the score
    return np.where(cnt < 1.0, 0.0, p)


def score(texts, model: dict) -> np.ndarray:
    """Quality probability in [0, 1] for a batch of texts (float64)."""
    n = len(texts)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    _a, _starts, h, seg, _vpos = hashing.trigram_pass(texts)
    return score_pass(n, h, seg, model)
