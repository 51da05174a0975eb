"""Dedup operator tests: exact groups, n-gram Jaccard vs hand computation,
MinHash estimate quality vs true Jaccard, SimHash hamming properties."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from data_quality_check_spark.operators import dedup

DOCS = [
    (0, "The quick brown fox jumps over the lazy dog"),
    (1, "the  quick Brown fox jumps over the lazy dog"),   # exact dup after norm
    (2, "The quick brown fox jumps over the lazy cat"),    # near dup
    (3, "Completely different content about databases and indexes"),
    (4, "Completely different content about databases and indexes"),  # exact
    (5, "zzz unrelated text qqq"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(docs_df):
    groups = {r["representative"]: r["n_docs"]
              for r in dedup.exact_duplicates(docs_df).collect()}
    assert groups == {0: 2, 3: 2}


def _true_jaccard(a: str, b: str, n=3):
    def sh(t):
        ws = [w for w in t.lower().split() if w]
        if len(ws) < n:
            return {" ".join(ws)}
        return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}
    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def test_ngram_jaccard_matches_hand_computation(docs_df):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(docs_df, n=3, threshold=0.3)
             .collect()}
    expected = _true_jaccard(DOCS[0][1], DOCS[2][1])
    assert pairs[(0, 2)] == pytest.approx(expected)
    assert pairs[(3, 4)] == pytest.approx(1.0)
    assert (0, 5) not in pairs


def test_minhash_signature_estimates_jaccard():
    a, b = DOCS[0][1], DOCS[2][1]
    sig = dedup.minhash_signatures_np([a, b], k=128)
    est = (sig[0] == sig[1]).mean()
    # char-5-gram jaccard, not word-3-gram — compute the true value directly
    def shingles(t):
        bs = t.encode()
        return {bs[i:i + 5] for i in range(len(bs) - 4)}
    true = len(shingles(a) & shingles(b)) / len(shingles(a) | shingles(b))
    assert est == pytest.approx(true, abs=0.15)


def test_minhash_identical_texts_full_agreement():
    sig = dedup.minhash_signatures_np(["same text here", "same text here"])
    assert (sig[0] == sig[1]).all()


def test_minhash_lsh_pairs_find_near_dups(docs_df):
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             dedup.minhash_lsh_pairs(docs_df, threshold=0.5).collect()}
    assert (3, 4) in pairs          # identical
    assert (0, 1) in pairs          # case/whitespace variant (high overlap)
    assert (0, 5) not in pairs
    assert (3, 5) not in pairs


def test_resolve_groups_connected_components(spark):
    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    # clique {10,11}, singleton edge-less nodes never appear
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long")
    got = {r["doc_id"]: r["group_id"]
           for r in dedup.resolve_groups(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_simhash_properties():
    sh = dedup.simhash_np([DOCS[0][1], DOCS[0][1], DOCS[2][1], DOCS[5][1]])
    assert sh[0] == sh[1]
    ham = bin(int(sh[0]) ^ int(sh[2])).count("1")
    ham_far = bin(int(sh[0]) ^ int(sh[3])).count("1")
    assert ham < ham_far


def test_simhash_pairs(docs_df):
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
             dedup.simhash_pairs(docs_df, max_hamming=3).collect()}
    assert pairs[(3, 4)] == 0
    assert (0, 5) not in pairs


def test_hot_shingle_cap_drops_boilerplate_pairs(spark):
    """A corpus-wide boilerplate line shared by every doc must not create
    pairs (or a quadratic join) once the df-cap drops it; genuine overlap
    beyond the boilerplate still pairs."""
    boiler = "click here to subscribe now for more"
    rows = [(i, f"{boiler} unique body {i} with words {i * 7}")
            for i in range(20)]
    rows.append((100, "the quick brown fox jumps over the lazy dog today"))
    rows.append((101, "the quick brown fox jumps over the lazy dog today"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             dedup.ngram_jaccard_pairs(df, n=3, threshold=0.5,
                                       max_shingle_df=5).collect()}
    # boilerplate-only overlap is gone; the real duplicate pair survives
    assert pairs == {(100, 101)}
    # uncapped, the boilerplate shingles pair every (i, j) combination
    uncapped = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.3).collect()
    assert len(uncapped) > 100


def test_resolve_groups_chain_converges_logarithmically(spark):
    """Pointer jumping (distributed path, driver fast path disabled):
    a 64-long chain (diameter 63) must converge well within 10 rounds
    (plain neighbor-min needs ~63)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a long, doc_b long")
    got = {r["doc_id"]: r["group_id"]
           for r in dedup.resolve_groups(pairs, max_iters=10,
                                         driver_max_edges=None).collect()}
    assert got == {i: 0 for i in range(65)}


def test_resolve_groups_raises_on_exhaustion(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(32)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.resolve_groups(pairs, max_iters=2, driver_max_edges=None)


def test_resolve_groups_driver_path_matches_distributed(spark):
    """The r6 driver-side union-find fast path must produce the exact
    labeling of the distributed label-propagation loop — components,
    min-id labels, and row set — on a mixed graph (chain + triangle +
    isolated pair + a merge edge)."""
    edges = ([(i, i + 1) for i in range(10)]          # chain 0..10
             + [(20, 21), (21, 22), (20, 22)]          # triangle
             + [(30, 31)]                              # pair
             + [(5, 22)])                              # chain-triangle merge
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    fast = {(r["doc_id"], r["group_id"])
            for r in dedup.resolve_groups(pairs).collect()}
    dist = {(r["doc_id"], r["group_id"])
            for r in dedup.resolve_groups(
                pairs, driver_max_edges=None).collect()}
    assert fast == dist
    # chain+triangle collapse to min id 0; the pair keeps 30
    assert (22, 0) in fast and (30, 30) in fast and (31, 30) in fast


def test_resolve_groups_driver_path_keeps_string_ids(spark):
    """String doc ids: the driver union-find fast path must return the
    same (doc_id, group_id) rows, typed like the input ids, as the
    distributed label propagation — not crash or coerce to long."""
    edges = [("d03", "d10"), ("d10", "d07"), ("b", "a"), ("x9", "x10")]
    pairs = spark.createDataFrame(edges, "doc_a string, doc_b string")
    fast_df = dedup.resolve_groups(pairs)
    fast = {tuple(r) for r in fast_df.collect()}
    dist = {tuple(r) for r in dedup.resolve_groups(
        pairs, driver_max_edges=None).collect()}
    assert fast == dist
    assert dict(fast_df.dtypes) == {"doc_id": "string", "group_id": "string"}
    assert ("d10", "d03") in fast and ("x9", "x10") in fast


def test_resolve_groups_probe_cap_falls_back_to_distributed(spark):
    """An edge list larger than driver_max_edges must take the
    distributed path and still label correctly (the probe collects at
    most cap+1 rows)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long")
    got = {r["doc_id"]: r["group_id"]
           for r in dedup.resolve_groups(pairs,
                                         driver_max_edges=4).collect()}
    assert got == {i: 0 for i in range(13)}


def _dict_union_find(edges: list) -> dict:
    """The former dict-based driver union-find, kept as the reference
    labeling: {id: min id of its component}."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for s, d in edges:
        if s not in parent:
            parent[s] = s
        if d not in parent:
            parent[d] = d
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rd] = rs
    mins: dict = {}
    for x in parent:
        r = find(x)
        if r not in mins or x < mins[r]:
            mins[r] = x
    return {x: mins[find(x)] for x in parent}


def _labels(edges: list) -> dict:
    out = dedup._union_find_min_labels(
        pd.DataFrame(edges, columns=["src", "dst"]))
    assert out["doc_id"].is_unique
    return dict(zip(out["doc_id"], out["group_id"]))


@pytest.mark.parametrize("seed", range(4))
@pytest.mark.parametrize("as_str", [False, True], ids=["int", "str"])
def test_union_find_matches_dict_reference(seed, as_str):
    """Random graphs with duplicate edges and self-loops: the numpy
    union-find labels every id exactly as the dict union-find does, for
    int ids and for string ids (where the min is lexicographic, so
    "d10" < "d9")."""
    rng = np.random.default_rng(seed)
    n_ids = [50, 500, 2000, 3000][seed]
    ab = rng.integers(0, n_ids, size=(2000, 2)).tolist()
    ab += ab[:200] + [[a, a] for a, _ in ab[:50]]
    edges = [(f"d{a}", f"d{b}") if as_str else (a, b)
             for a, b in rng.permutation(ab).tolist()]
    assert _labels(edges) == _dict_union_find(edges)


def test_union_find_long_chain_adversarial_order():
    """A 100k-vertex path whose ids are a random permutation, edges in
    random order and direction: one component, labeled with id 0."""
    rng = np.random.default_rng(7)
    perm = rng.permutation(100_000)
    edges = list(zip(perm[:-1].tolist(), perm[1:].tolist()))
    edges = [(b, a) if flip else (a, b) for (a, b), flip in
             zip(rng.permutation(edges).tolist(),
                 rng.integers(0, 2, len(edges)))]
    got = _labels(edges)
    assert got == _dict_union_find(edges)
    assert set(got.values()) == {0}


def test_union_find_at_the_driver_cap():
    """At DRIVER_CC_MAX_EDGES random edges the driver path stays within
    its budget: the dict union-find took 27 s and +966 MB RSS there;
    the numpy one ~1 s and ~320 MB traced peak."""
    import time
    import tracemalloc

    n = dedup.DRIVER_CC_MAX_EDGES
    rng = np.random.default_rng(0)
    edges = pd.DataFrame({"src": rng.integers(0, n // 2, n),
                          "dst": rng.integers(0, n // 2, n)})
    tracemalloc.start()
    try:
        t0 = time.perf_counter()
        out = dedup._union_find_min_labels(edges)
        took = time.perf_counter() - t0
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert len(out) == len(pd.unique(edges.to_numpy().ravel()))
    assert (out["group_id"] <= out["doc_id"]).all()
    assert took < 15, f"{took:.1f} s at {n} edges"
    assert peak < 600e6, f"{peak / 1e6:.0f} MB traced peak at {n} edges"


def test_cross_contamination_finds_leaked_eval_docs(spark):
    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely unrelated training material about databases")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over something else"),   # leaked
         (101, "pristine evaluation text with no overlap at all")],
        "doc_id long, text string")
    got = {(r["train_doc"], r["eval_doc"]): r["n_shared"] for r in
           dedup.cross_contamination(train, ev, n=3, min_shared=2)
           .collect()}
    assert (1, 100) in got and got[(1, 100)] >= 2
    assert not any(e == 101 for _, e in got)


def test_cross_contamination_hot_shingle_cap(spark):
    boiler = "click here subscribe now please"
    train = spark.createDataFrame(
        [(i, f"{boiler} body {i}") for i in range(20)],
        "doc_id long, text string")
    ev = spark.createDataFrame([(100, boiler)], "doc_id long, text string")
    capped = dedup.cross_contamination(train, ev, n=3, min_shared=1,
                                       max_shingle_df=5).collect()
    assert capped == []  # boilerplate-only overlap suppressed
    uncapped = dedup.cross_contamination(train, ev, n=3,
                                         min_shared=1).collect()
    assert len(uncapped) == 20


def test_apply_dedup_keeps_representatives(spark, docs_df):
    pairs = dedup.ngram_jaccard_pairs(docs_df, n=3, threshold=0.5)
    groups = dedup.resolve_groups(pairs)
    kept = {r["doc_id"] for r in
            dedup.apply_dedup(docs_df, groups).collect()}
    # at 0.5: {0,1,2} one group (2 joins via jaccard 0.75), {3,4} another
    assert kept == {0, 3, 5}


def test_dedup_lines_duckdb_parity_fuzz(spark):
    """Random multi-line corpora (shared/blank/whitespace-variant lines)
    through BOTH engines — guards the normalization-regex and
    first-occurrence parity beyond the fixed gate fixture."""
    import random

    import duckdb

    rng = random.Random(17)
    pool = ["alpha beta", "  spaced   out ", "SHOUTY LINE", "", "\t",
            "unique %d", "shared chorus line", "another body %d",
            "trailing space ", "mixed Case Words"]
    rows = []
    for d in range(80):
        lines = []
        for _ in range(rng.randint(0, 6)):
            x = rng.choice(pool)
            if "%d" in x:
                x = x % (d if rng.random() < 0.5 else rng.randint(0, 9))
            lines.append(x)
        rows.append((d, "\n".join(lines)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["text_deduped"], r["n_lines"],
                         r["n_lines_dropped"])
           for r in dedup.dedup_lines(df).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    sql = dedup.dedup_lines_sql("SELECT doc_id, text FROM docs")
    want = {r[0]: (r[1], r[2], r[3]) for r in con.execute(sql).fetchall()}
    assert got == want


def test_dedup_lines_first_occurrence_wins(spark):
    """C4-style line dedup: a duplicated line survives only at its first
    (doc_id, pos); order preserved; blank lines never dropped; a doc that
    loses everything yields an empty string."""
    rows = [
        (1, "alpha\nshared line\nbeta"),
        (2, "shared line\ngamma\n\ndelta"),   # loses line 0, keeps blank
        (3, "SHARED   LINE"),                 # normalization: dup of doc1
        (4, "shared line"),                   # all content dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["text_deduped"], r["n_lines"],
                         r["n_lines_dropped"])
           for r in dedup.dedup_lines(df).collect()}
    assert got[1] == ("alpha\nshared line\nbeta", 3, 0)
    assert got[2] == ("gamma\n\ndelta", 4, 1)
    assert got[3] == ("", 1, 1)
    assert got[4] == ("", 1, 1)


def test_incremental_dedup_against_built_index(spark, docs_df, tmp_path):
    """Daily-ingestion shape: a new batch dedups against the kept-corpus
    MinHash index; a saved+reloaded index gives identical pairs, and the
    pairs agree with the self-sweep restricted to cross-slice pairs."""
    corpus = docs_df.filter("doc_id % 2 = 0")
    new = docs_df.filter("doc_id % 2 = 1")
    index = dedup.minhash_build(corpus)
    got = {(r["new_doc"], r["corpus_doc"]): r["est_jaccard"] for r in
           dedup.incremental_dedup_pairs(index, new, threshold=0.5)
           .collect()}
    # cross-slice subset of the self-sweep (same bands, same estimator)
    full = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in
            dedup.minhash_lsh_pairs(docs_df, threshold=0.5).collect()}
    expect = {}
    for (x, y), est in full.items():
        if x % 2 != y % 2:
            n_doc, c_doc = (x, y) if x % 2 == 1 else (y, x)
            expect[(n_doc, c_doc)] = est
    assert got == expect and got  # non-vacuous: (0,1) pair exists
    # cross-job reuse: save → load → identical decision set
    idx2 = dedup.minhash_build(corpus)
    dedup.minhash_save(idx2, str(tmp_path / "mhidx"))
    loaded = dedup.minhash_load(spark, str(tmp_path / "mhidx"))
    again = {(r["new_doc"], r["corpus_doc"]) for r in
             dedup.incremental_dedup_pairs(loaded, new, threshold=0.5)
             .collect()}
    loaded.sigs.unpersist()
    assert again == set(got)


def test_index_load_detects_interrupted_save(spark, docs_df, tmp_path):
    """r4 ADVICE: the save protocol is nonce → data → meta. Simulate a
    crash between data and meta (fresh nonce, stale meta): load must
    refuse instead of pairing stale metadata with new data files."""
    import pytest

    from data_quality_check_spark import io as dq_io

    path = str(tmp_path / "mhidx")
    idx = dedup.minhash_build(docs_df)
    dedup.minhash_save(idx, path)
    # completed save loads fine
    dedup.minhash_load(spark, path).sigs.unpersist()
    # crash simulation: a NEW save got as far as the nonce write only
    dq_io.write_index_nonce(spark, path)
    with pytest.raises(ValueError, match="interrupted save"):
        dedup.minhash_load(spark, path)


def _majority_dup_fixture(spark, n=400):
    """Adversarial corpus: ~75% duplicates — the realistic 100 TB shape
    where the drop set is O(corpus), not tiny."""
    from pyspark.sql import functions as F

    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("body "), (F.col("id") % (n // 4)).cast("string"))
        .alias("text"))
    # every doc labels into group (id % n//4): 3 of every 4 are drops
    groups = spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % (n // 4)).alias("group_id"))
    return docs, groups


def test_apply_dedup_guards_broadcast_on_majority_dup(spark):
    """VERDICT r02 #1: with a drop set above the guard threshold, the plan
    must contain NO forced BroadcastExchange — the anti-join falls back to
    a shuffle on doc_id (an executor OOM at 100 TB otherwise)."""
    import contextlib
    import io as _io

    docs, groups = _majority_dup_fixture(spark)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = dedup.apply_dedup(docs, groups, max_broadcast_drops=10)
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        kept = {r["doc_id"] for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastExchange" not in plan
    assert "SortMergeJoin LeftAnti" in plan
    assert kept == set(range(100))  # reps only: ids < n//4


def test_apply_dedup_small_drop_set_still_broadcasts(spark, docs_df):
    """Below the threshold the fast path is preserved: the corpus never
    shuffles — the tiny drop set broadcasts."""
    import contextlib
    import io as _io

    groups = spark.createDataFrame(
        [(0, 0), (1, 0)], "doc_id long, group_id long")
    out = dedup.apply_dedup(docs_df, groups, max_broadcast_drops=1000)
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "BroadcastExchange" in buf.getvalue()
    assert {r["doc_id"] for r in out.collect()} == {0, 2, 3, 4, 5}


def test_minhash_save_bucketed_zero_exchange_join_back(spark, docs_df,
                                                       tmp_path):
    """r3 verdict #5: a bucketed minhash_save must make the candidate
    join-back (keyed on doc_id) run with NO exchange on the index side —
    pay the shuffle once at save time. Also: save/load round-trips the
    decision set identically to the unbucketed form."""
    from pyspark.sql import functions as F

    corpus = docs_df.filter("doc_id % 2 = 0")
    idx = dedup.minhash_build(corpus)
    dedup.minhash_save(idx, str(tmp_path / "bidx"), buckets=8)
    loaded = dedup.minhash_load(spark, str(tmp_path / "bidx"))

    cand = loaded.sigs.select(F.col("doc_id").alias("corpus_doc")) \
        .limit(50).localCheckpoint()
    n_cand = cand.count()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = loaded.sigs.join(
            cand, loaded.sigs["doc_id"] == cand["corpus_doc"])
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert j.count() == n_cand > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    # exactly ONE exchange: the candidate side; the bucketed index scan
    # feeds the join pre-partitioned
    assert plan.count("Exchange hashpartitioning") == 1

    new = docs_df.filter("doc_id % 2 = 1")
    got = {(r["new_doc"], r["corpus_doc"]) for r in
           dedup.incremental_dedup_pairs(loaded, new, threshold=0.5)
           .collect()}
    want = {(r["new_doc"], r["corpus_doc"]) for r in
            dedup.incremental_dedup_pairs(idx, new, threshold=0.5)
            .collect()}
    loaded.sigs.unpersist()
    assert got == want and got


def test_dedup_spans_offset_invariant_first_occurrence(spark):
    """Content-defined chunking must re-align a copied paragraph at ANY
    word offset: the same interior span is dropped from the later doc
    even though its position differs (a fixed tiling would miss it)."""
    para = ("standard boilerplate lazy notice content provided without "
            "warranty express or implied liability remains governs use")
    rows = [(1, "alpha beta " + para),
            (2, "one two three four five six seven " + para),
            (3, "totally unrelated words here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.dedup_spans(df).collect()}
    # doc 1 keeps everything (first occurrence)
    assert out[1]["n_spans_dropped"] == 0
    # doc 2 loses the interior span despite the different offset
    assert out[2]["n_spans_dropped"] == 1
    assert "notice content provided" not in out[2]["text_deduped"]
    # non-span words survive
    assert out[2]["text_deduped"].startswith("one two three")
    assert out[3]["n_spans_dropped"] == 0


def test_dedup_spans_short_spans_exempt_and_empty_docs_survive(spark):
    """Spans under MIN_SPAN_WORDS never dedup (a bare common phrase must
    not vanish), and empty/whitespace docs pass through."""
    rows = [(1, "use of service"), (2, "use of service"), (3, ""),
            (4, "   ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.dedup_spans(df).collect()}
    assert out[1]["text_deduped"] == out[2]["text_deduped"] \
        == "use of service"
    assert out[2]["n_spans_dropped"] == 0
    assert out[3]["text_deduped"] == "" and out[3]["n_spans"] == 0
    assert out[4]["text_deduped"] == ""


def test_dedup_spans_within_doc_duplicates_drop(spark):
    """A paragraph repeated INSIDE one document dedups too — the second
    copy's interior span drops, keeping the first."""
    para = ("standard boilerplate lazy notice content provided without "
            "warranty express or implied liability remains governs use")
    df = spark.createDataFrame([(7, para + " filler " + para)],
                               "doc_id long, text string")
    out = dedup.dedup_spans(df).collect()[0]
    assert out["n_spans_dropped"] >= 1


def test_dedup_spans_duckdb_parity_fuzz(spark):
    """Random word corpora (shared paragraphs at random offsets, odd
    whitespace, casing variants) through BOTH engines — guards the
    breakpoint/md5/first-occurrence/reassembly parity beyond the fixed
    gate fixture."""
    import random

    import duckdb

    rng = random.Random(23)
    vocab = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon").split()
    shared = ("standard boilerplate lazy notice content provided without "
              "warranty express or implied liability remains governs")
    rows = []
    for d in range(60):
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 30))]
        if rng.random() < 0.4:
            pos = rng.randint(0, max(0, len(words)))
            words[pos:pos] = shared.split()
        sep = rng.choice([" ", "  ", " \t ", "\n"])
        rows.append((d, sep.join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["text_deduped"], r["n_spans"],
                         r["n_spans_dropped"])
           for r in dedup.dedup_spans(df).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    sql = dedup.dedup_spans_sql("SELECT doc_id, text FROM docs")
    want = {r[0]: (r[1], r[2], r[3]) for r in con.execute(sql).fetchall()}
    assert got == want
    assert sum(v[2] for v in got.values()) > 0  # non-vacuous


def test_hot_band_guard_bounds_identical_class(spark):
    """N byte-identical docs agree on EVERY band — uncapped, the
    candidate self-join is N²/2 pairs. With the member cap the pair set
    is ≤ N·cap, and connected components still collapse the whole class
    into ONE group through the capped hub docs."""
    rows = [(i, "exactly the same boilerplate text repeated")
            for i in range(400)]
    rows += [(1000, "something else entirely different here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(df, threshold=0.5,
                                    max_band_members=16)
    n_pairs = pairs.count()
    assert n_pairs <= 400 * 16          # bounded, not 400*399/2
    groups = dedup.resolve_groups(pairs.select("doc_a", "doc_b"))
    labels = {r["doc_id"]: r["group_id"] for r in groups.collect()}
    assert {labels[i] for i in range(400)} == {0}   # one class, rep 0
    assert 1000 not in labels

    sh = dedup.simhash_pairs(df, max_hamming=3, max_band_members=16)
    assert sh.count() <= 400 * 16


def test_capped_bands_matches_inline_rank_and_caches(spark):
    """MinHashIndex.capped_bands (r6: computed once per static index)
    must equal the inline window-rank form and be cached per cap."""
    from pyspark.sql import Window, functions as F

    docs = spark.createDataFrame(
        [(i, f"shared boilerplate text block number {i % 3}")
         for i in range(40)], "doc_id long, text string")
    idx = dedup.minhash_build(docs)
    cap = 5
    got = {tuple(r) for r in idx.capped_bands(cap).collect()}
    w = Window.partitionBy("band", "band_hash").orderBy("doc_id")
    want = {tuple(r) for r in
            (idx.bands.withColumn("_rk", F.row_number().over(w))
             .filter(F.col("_rk") <= cap).drop("_rk")).collect()}
    assert got == want and len(got) > 0
    assert idx.capped_bands(cap) is idx.capped_bands(cap)  # cached
