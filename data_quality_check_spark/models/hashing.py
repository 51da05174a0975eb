"""Vectorized byte n-gram hashing shared by langid, the char-ngram LM, the
quality classifier and the MinHash/SimHash signatures.

Design goal: zero per-row Python in the scoring hot path. A whole Arrow
batch of texts is concatenated into ONE uint8 buffer; rolling n-gram hashes
over the buffer are computed with numpy array ops; windows that cross text
boundaries are masked out; per-text reductions use np.bincount with segment
ids. This is the Spark-idiomatic replacement for the reference's per-record
field loop (/root/reference/dynamic-message/src/lib.rs:11-258).

ONE kernel: `ngram_hashes` is the only place the byte n-gram hash is
computed over a buffer, at any order; `window_hash` is its formula
(polynomial, 32-bit multiplicative mix, bucket fold), which the LM's
suffix-bigram backoff also applies to gathered bytes. Its
segment ids come from np.repeat over the text lengths (np.diff(starts)) —
O(m), no searchsorted. The SQL form is operators/dedup._byte_poly_sql.

All arithmetic is int64/float64 → results are bit-identical regardless of
batch geometry, partitioning, or parallelism level.
"""

from __future__ import annotations

import numpy as np

N_BUCKETS = 1 << 16
_MASK = N_BUCKETS - 1


def encode_batch(texts, max_bytes: int = 512):
    """Encode a sequence of (possibly None) strings to one flat uint8 buffer.

    Returns (buf, starts, lens) where starts has len(texts)+1 entries and
    text i occupies buf[starts[i]:starts[i+1]].
    """
    bufs = []
    for t in texts:
        if t is None:
            bufs.append(b"")
        else:
            bufs.append(t.encode("utf-8", "ignore")[:max_bytes])
    n = len(bufs)
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=n)
    starts = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=starts[1:])
    buf = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    return buf, starts, lens


def window_hash(cols, raw: bool = False) -> np.ndarray:
    """The byte n-gram hash of aligned int64 byte arrays, one per window
    position: h = h*31 + byte, then (h * 2654435761) mod 2^32. Returns
    full 32-bit hashes when raw=True (MinHash/SimHash need the
    resolution), else bucket ids in [0, N_BUCKETS).

    No step reduction: int64 wraps mod 2^64 and the mix reads only
    h mod 2^32, so the result equals the SQL twin's, which reduces every
    step mod 2^48 to stay inside BIGINT."""
    h = cols[0]
    for c in cols[1:]:
        h = h * 31
        h += c
    h = h * 2654435761
    h &= 0xFFFFFFFF
    if not raw:
        h >>= 7
        h &= _MASK
    return h


def ngram_hashes(buf: np.ndarray, starts: np.ndarray, order: int,
                 raw: bool = False):
    """Hashes of all `order`-byte windows that do not cross a text boundary.

    `buf` is the uint8 buffer of encode_batch or its int64 view (not
    copied again). Returns (hashes, seg, pos): window_hash of each window,
    the owning text index, and the window's start position in the buffer.
    """
    a = buf.astype(np.int64, copy=False)
    m = int(a.size) - order + 1
    if m <= 0:
        e = np.empty(0, dtype=np.int64)
        return e, e, e
    seg = np.repeat(np.arange(starts.size - 1, dtype=np.int64),
                    np.diff(starts))[:m]
    pos = np.arange(m, dtype=np.int64)
    valid = pos + order <= starts[seg + 1]
    h = window_hash([a[k:k + m] for k in range(order)], raw)
    return h[valid], seg[valid], pos[valid]


def trigram_pass(texts, max_bytes: int = 512):
    """ONE shared hashing pass for langid + perplexity scoring.

    Returns (a, starts, h3, seg, vpos):
      a     int64 view of the concatenated buffer
      h3    bucket ids of all valid trigram windows (ngram_hashes, order 3)
      seg   owning text index per window
      vpos  buffer position of each window (for suffix-bigram backoff)
    """
    buf, starts, _ = encode_batch(texts, max_bytes)
    a = buf.astype(np.int64)
    h3, seg, vpos = ngram_hashes(a, starts, 3)
    return a, starts, h3, seg, vpos


def count_table(texts, order: int) -> np.ndarray:
    """Bucketed n-gram counts over a training corpus (float64, N_BUCKETS)."""
    buf, starts, _ = encode_batch(texts, max_bytes=1 << 20)
    h = ngram_hashes(buf, starts, order)[0]
    return np.bincount(h, minlength=N_BUCKETS).astype(np.float64)


def smoothed_log_probs(counts: np.ndarray) -> np.ndarray:
    """Add-1/2 smoothed log-probabilities of a bucket count table,
    log((c + 0.5) / (sum(c) + 0.5 * N_BUCKETS)) in that float64 order: the
    one table formula langid, the LM's suffix-bigram backoff and the
    quality classifier train with."""
    return np.log((counts + 0.5) / (counts.sum() + 0.5 * N_BUCKETS))


def segment_sum(values: np.ndarray, seg: np.ndarray, n: int) -> np.ndarray:
    """Sum `values` grouped by segment id into an array of length n."""
    return np.bincount(seg, weights=values, minlength=n)
