"""Parity of the one byte n-gram kernel (models/hashing.ngram_hashes) with
the three formulas it replaced, on inputs the gate fixtures never produce:
multibyte UTF-8, None, empty and 1-/2-byte texts, and a max_bytes cut that
splits a multibyte character. The former implementations are copied below
as the references."""

from __future__ import annotations

import random

import numpy as np
import pytest

from data_quality_check_spark.models import hashing, ngram
from data_quality_check_spark.operators import dedup

_MASK = hashing.N_BUCKETS - 1


def _ref_ngram_hashes(buf, starts, order, raw=False):
    """The former hashing.ngram_hashes (searchsorted segment ids)."""
    n = int(buf.size)
    if n < order:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
    a = buf.astype(np.int64)
    m = n - order + 1
    h = np.zeros(m, dtype=np.int64)
    for k in range(order):
        h = (h * 31 + a[k : k + m]) & 0xFFFFFFFFFFFF
    h = (h * 2654435761) & 0xFFFFFFFF
    if not raw:
        h = (h >> 7) & _MASK
    pos = np.arange(m, dtype=np.int64)
    seg = np.searchsorted(starts, pos, side="right") - 1
    valid = pos + order <= starts[seg + 1]
    return h[valid], seg[valid]


def _ref_trigram_pass(texts, max_bytes=512):
    """The former hashing.trigram_pass (unrolled order-3 form)."""
    buf, starts, lens = hashing.encode_batch(texts, max_bytes)
    n = len(lens)
    a = buf.astype(np.int64)
    m = int(buf.size) - 2
    if m <= 0:
        e = np.empty(0, dtype=np.int64)
        return a, starts, e, e, e
    seg = np.repeat(np.arange(n, dtype=np.int64), lens)[:m]
    pos = np.arange(m, dtype=np.int64)
    valid = pos + 3 <= starts[seg + 1]
    h = (a[:m] * 31 + a[1:m + 1]) * 31 + a[2:m + 2]
    h = (h * 2654435761) & 0xFFFFFFFF
    h3 = (h >> 7) & _MASK
    return a, starts, h3[valid], seg[valid], pos[valid]


def _ref_suffix_hash(a, vpos):
    """The former ngram._suffix_hash."""
    if vpos.size == 0:
        return np.empty(0, dtype=np.int64)
    h = a[vpos + 1] * 31 + a[vpos + 2]
    h = (h * 2654435761) & 0xFFFFFFFF
    return (h >> 7) & (hashing.N_BUCKETS - 1)


_PIECES = ["a", "b", " ", "the", "Zz9", "é", "ß", "漢字", "🙂", "\n", "x!"]


def _corpus(seed: int, n: int = 400) -> list:
    rng = random.Random(seed)
    texts = [None, "", "a", "é", "ab", "🙂", "ß", "abc"]
    for _ in range(n):
        r = rng.random()
        if r < 0.05:
            texts.append(None)
        elif r < 0.1:
            texts.append("")
        else:
            texts.append("".join(rng.choice(_PIECES)
                                 for _ in range(rng.randint(1, 60))))
    # max_bytes cuts that split a multibyte character: "é" (2 bytes) at
    # byte 511 of the default scoring cut, "漢" (3 bytes) and "🙂" (4 bytes)
    # straddling the signature cut
    texts += ["a" * 511 + "é" + "tail",
              "b" * (dedup._MAX_BYTES - 1) + "漢字",
              "c" * (dedup._MAX_BYTES - 2) + "🙂🙂"]
    rng.shuffle(texts)
    return texts


def test_corpus_reaches_the_edges():
    texts = _corpus(0)
    assert None in texts and "" in texts
    assert any(t is not None and len(t.encode()) == 1 for t in texts)
    assert any(t is not None and len(t.encode()) == 2 for t in texts)
    assert any(t is not None and len(t.encode()) != len(t) for t in texts)
    for max_bytes in (512, dedup._MAX_BYTES):
        # a continuation byte right after the cut: the cut splits a char
        split = [t for t in texts if t is not None
                 and len(t.encode()) > max_bytes
                 and (t.encode()[max_bytes] & 0xC0) == 0x80]
        assert split, f"no text splits a character at {max_bytes}"


@pytest.mark.parametrize("seed", [0, 1, 2])
# 13: the former per-step 2^48 mask binds from order 10 on; the kernel
# wraps mod 2^64 instead, and the 32 bits the mix reads agree
@pytest.mark.parametrize("order", [2, 3, 5, 13])
@pytest.mark.parametrize("raw", [False, True])
@pytest.mark.parametrize("max_bytes", [512, dedup._MAX_BYTES])
def test_kernel_matches_former_ngram_hashes(seed, order, raw, max_bytes):
    texts = _corpus(seed)
    buf, starts, _ = hashing.encode_batch(texts, max_bytes)
    h, seg, pos = hashing.ngram_hashes(buf, starts, order, raw)
    rh, rseg = _ref_ngram_hashes(buf, starts, order, raw)
    assert h.dtype == seg.dtype == pos.dtype == np.int64
    np.testing.assert_array_equal(h, rh)
    np.testing.assert_array_equal(seg, rseg)
    # pos is each window's start: inside its own text, never crossing out
    assert (starts[seg] <= pos).all() and (pos + order <= starts[seg + 1]).all()
    # the int64 view of the buffer gives the same windows
    for got, want in zip(hashing.ngram_hashes(buf.astype(np.int64), starts,
                                              order, raw), (h, seg, pos)):
        np.testing.assert_array_equal(got, want)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_trigram_pass_and_suffix_hash_match_former(seed):
    texts = _corpus(seed)
    got = hashing.trigram_pass(texts)
    want = _ref_trigram_pass(texts)
    for g, w in zip(got, want):
        assert g.dtype == w.dtype
        np.testing.assert_array_equal(g, w)
    a, _starts, _h3, _seg, vpos = got
    np.testing.assert_array_equal(ngram._suffix_hash(a, vpos),
                                  _ref_suffix_hash(a, vpos))
    # the suffix bigram bucket is the order-2 kernel bucket of the window
    # starting one byte later
    buf, starts, _ = hashing.encode_batch(texts)
    h2, _seg2, pos2 = hashing.ngram_hashes(buf, starts, 2)
    by_pos = dict(zip(pos2.tolist(), h2.tolist()))
    assert ngram._suffix_hash(a, vpos).tolist() == \
        [by_pos[p + 1] for p in vpos.tolist()]


@pytest.mark.parametrize("texts", [[], [None], [""], ["a"], ["ab"],
                                   [None, "", "é"], ["abc"], ["🙂"]])
def test_kernel_on_tiny_batches(texts):
    for order in (2, 3, 5):
        buf, starts, _ = hashing.encode_batch(texts)
        h, seg, pos = hashing.ngram_hashes(buf, starts, order)
        rh, rseg = _ref_ngram_hashes(buf, starts, order)
        np.testing.assert_array_equal(h, rh)
        np.testing.assert_array_equal(seg, rseg)
        assert pos.size == h.size
    for g, w in zip(hashing.trigram_pass(texts), _ref_trigram_pass(texts)):
        np.testing.assert_array_equal(g, w)
