"""BPE trainer tests: merge semantics vs an independent Python reference,
learned-merge application, and the vocabulary-sized scale shape."""

from __future__ import annotations

import pytest

from data_quality_check_spark.operators import bpe


# --- independent reference implementation (classic Sennrich loop over a
# dict of word->symbol tuples; no string-replace tricks, so it checks
# the doubled-space application from a different angle) ----------------

def _ref_train(word_counts: dict[str, int], n_merges: int):
    vocab = {tuple(list(w) + [bpe.EOW]): c for w, c in word_counts.items()}
    merges = []
    for step in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = (
                    pairs.get((syms[i], syms[i + 1]), 0) + c)
        if not pairs:
            break
        (left, right), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append({"step": step, "left": left, "right": right,
                       "merged": left + right, "cnt": cnt})
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == left
                        and syms[i + 1] == right):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def _ref_apply(word: str, merges) -> list[str]:
    syms = list(word) + [bpe.EOW]
    for m in merges:
        out, i = [], 0
        while i < len(syms):
            if (i + 1 < len(syms) and syms[i] == m["left"]
                    and syms[i + 1] == m["right"]):
                out.append(m["merged"])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


WORDS = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "aaaa": 4,
         "a": 2, "banana": 3, "bananas": 1}


def test_apply_merges_matches_reference_incl_overlaps():
    merges = _ref_train(WORDS, 10)
    for w in list(WORDS) + ["aaaaaaa", "aa", "lowest", "newer", "x"]:
        assert bpe.apply_merges_to_word(w, merges) == _ref_apply(w, merges)


def test_doubled_space_greedy_run_semantics():
    # "a a a a" with merge (a,a) must merge BOTH pairs in one pass
    # (greedy leftmost non-overlapping), and "a a a" exactly one
    m = [{"step": 0, "left": "a", "right": "a", "merged": "aa", "cnt": 1}]
    assert bpe.apply_merges_to_word("aaaa", m) == ["aa", "aa", bpe.EOW]
    assert bpe.apply_merges_to_word("aaa", m) == ["aa", "a", bpe.EOW]
    assert bpe.apply_merges_to_word("aaaaa", m) == ["aa", "aa", "a",
                                                   bpe.EOW]


def test_apply_semantics_fuzz_replace_equals_scan():
    """Property fuzz: the doubled-space REPLACE application must equal
    the symbol-list SCAN reference for arbitrary words under arbitrary
    learned merge tables — the equivalence both the driver fast path and
    the SQL twin rest on."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    alphabet = "abcdeab<>/"  # dense collisions incl. EOW-ish chars

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.text(alphabet, min_size=1, max_size=10),
                    min_size=1, max_size=8),
           st.text(alphabet, min_size=1, max_size=12))
    def check(train_words, probe):
        wc = {}
        for w in train_words:
            wc[w] = wc.get(w, 0) + 1
        merges = _ref_train(wc, 6)
        for w in list(wc) + [probe]:
            assert bpe.apply_merges_to_word(w, merges) == \
                _ref_apply(w, merges), (w, merges)

    check()


def test_spark_train_matches_reference(spark):
    rows = []
    i = 0
    for w, c in WORDS.items():
        for _ in range(c):
            rows.append((i, w))
            i += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = bpe.bpe_train(docs, n_merges=8)
    want = _ref_train(WORDS, 8)
    assert got == want


def test_driver_and_distributed_paths_identical(spark):
    """bpe_train's driver-side fast path (vocab fits) and the fully
    distributed iteration loop must learn the IDENTICAL merge sequence."""
    rows = []
    i = 0
    for w, c in WORDS.items():
        for _ in range(c):
            rows.append((i, w))
            i += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fast = bpe.bpe_train(docs, n_merges=8)           # driver path
    slow = bpe.bpe_train(docs, n_merges=8,
                         driver_vocab_max=0)         # distributed path
    assert fast == slow


def test_learned_token_counts_matches_reference(spark):
    docs = spark.createDataFrame(
        [(0, "low lower newest"), (1, "banana bananas aaaa"),
         (2, "the newest widest low low")],
        "doc_id long, text string")
    merges = _ref_train(WORDS, 6)
    out = {r["doc_id"]: r["n_tokens_learned"]
           for r in bpe.learned_token_counts(docs, merges).collect()}
    texts = {0: "low lower newest", 1: "banana bananas aaaa",
             2: "the newest widest low low"}
    for d, t in texts.items():
        want = sum(len(_ref_apply(w, merges)) for w in t.split())
        assert out[d] == want


def test_train_is_vocabulary_sized(spark):
    """The per-iteration working table must be the distinct-word vocab,
    not the corpus: replicating every doc 50x must not change the merge
    table (counts scale, sequence and pair identity stay)."""
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [(i, w) for i, w in enumerate(list(WORDS) * 2)],
        "doc_id long, text string")
    big = base.withColumn(
        "rep", F.explode(F.sequence(F.lit(0), F.lit(49)))).drop("rep")
    m1 = bpe.bpe_train(base, n_merges=5)
    m2 = bpe.bpe_train(big, n_merges=5)
    assert [(m["left"], m["right"]) for m in m1] == \
        [(m["left"], m["right"]) for m in m2]
    assert all(b["cnt"] == 50 * a["cnt"] for a, b in zip(m1, m2))


def test_word_cap_bounds_symbol_explosion(spark):
    blob = "x" * 5000
    docs = spark.createDataFrame(
        [(0, f"normal words here {blob}")], "doc_id long, text string")
    merges = bpe.bpe_train(docs, n_merges=2)
    # the 5000-char blob is excluded, so no merge count reflects it
    assert all(m["cnt"] < 100 for m in merges)


@pytest.mark.parametrize("parts", [1, 16])
def test_driver_path_fetches_vocabulary_in_one_job(spark, monkeypatch,
                                                   parts):
    """After its eager checkpoint, a driver-path bpe_train probes the
    vocabulary size and fetches it in ONE Spark job (no count() before
    the fetch, no row-based collect), and the merge counts stay Python
    ints."""
    sc = spark.sparkContext
    group = f"test-bpe-driver-fetch-{parts}"
    real = bpe._word_counts

    class _GroupAfterCheckpoint:
        def __init__(self, df):
            self.df = df

        def localCheckpoint(self):
            ck = self.df.localCheckpoint()
            sc.setJobGroup(group, "bpe_train after its checkpoint")
            return ck

    monkeypatch.setattr(bpe, "_word_counts", lambda docs, col:
                        _GroupAfterCheckpoint(real(docs, col)))
    rows = [(i, w) for i, w in enumerate(
        w for w, c in WORDS.items() for _ in range(c))]
    docs = spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(parts)
    try:
        got = bpe.bpe_train(docs, n_merges=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == _ref_train(WORDS, 8)
    assert all(type(m["cnt"]) is int for m in got)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
