"""Model unit tests: accuracy on held-out-ish seeds, batch-geometry
invariance (the determinism requirement behind "keep/drop must not flip with
partitioning"), and perplexity calibration."""

from __future__ import annotations

import numpy as np

from data_quality_check_spark import corpus
from data_quality_check_spark.config import DEFAULT_RULESET as CFG
from data_quality_check_spark.models import langid, ngram


def test_langid_classifies_training_languages(models):
    texts, labels = [], []
    for lang, sents in corpus.SENTENCES.items():
        texts.extend(sents)
        labels.extend([lang] * len(sents))
    pred, conf = langid.predict(texts, models["langid"])
    acc = np.mean([p == y for p, y in zip(pred, labels)])
    assert acc >= 0.99
    assert conf.min() >= CFG.min_lang_conf


def test_langid_batch_geometry_invariance(models):
    texts = [s for ss in corpus.SENTENCES.values() for s in ss]
    whole_l, whole_c = langid.predict(texts, models["langid"])
    # one-at-a-time must be bit-identical to whole-batch
    for i, t in enumerate(texts[:20]):
        l1, c1 = langid.predict([t], models["langid"])
        assert l1[0] == whole_l[i]
        assert c1[0] == whole_c[i]


def test_langid_empty_and_none(models):
    lang, conf = langid.predict(["", None, "ab"], models["langid"])
    assert list(lang) == ["und", "und", "und"]  # < 3 bytes → unknown
    assert conf.tolist() == [0.0, 0.0, 0.0]


def test_perplexity_separates_natural_from_junk(models):
    natural = [s for ss in corpus.SENTENCES.values() for s in ss[:5]]
    junk = ["qzxjv wkpfh zzzz qqqq xkcd vvvv",
            "@@@ ### $$$ %%% ^^^ &&&",
            "zxqj" * 40]
    p_nat = ngram.perplexity(natural, models["lm"])
    p_junk = ngram.perplexity(junk, models["lm"])
    assert p_nat.max() < CFG.max_perplexity
    assert p_junk.min() > CFG.max_perplexity


def test_perplexity_batch_geometry_invariance(models):
    texts = [s for ss in corpus.SENTENCES.values() for s in ss[:3]]
    whole = ngram.perplexity(texts, models["lm"])
    for i, t in enumerate(texts):
        one = ngram.perplexity([t], models["lm"])
        assert one[0] == whole[i]  # bit-identical


def test_perplexity_empty_sentinel(models):
    p = ngram.perplexity(["", None, "ab"], models["lm"])
    assert (p == ngram.PPL_EMPTY).all()


def test_fused_scorer_bit_identical(models):
    from data_quality_check_spark.models import scoring

    texts = [s for ss in corpus.SENTENCES.values() for s in ss[:4]]
    texts += ["", None, "ab", "@@@ ###", "zxqj" * 40, "héllo wörld"]
    l1, c1 = langid.predict(texts, models["langid"])
    p1 = ngram.perplexity(texts, models["lm"])
    l2, c2, p2 = scoring.score_batch(texts, models["langid"], models["lm"])
    assert list(l1) == list(l2)
    assert (c1 == c2).all()
    assert (p1 == p2).all()


def test_models_are_broadcast_friendly():
    import pickle

    from data_quality_check_spark.models import quality

    m = {"langid": langid.train(), "lm": ngram.train(),
         "quality": quality.train()}
    payload = pickle.dumps(m)
    assert len(payload) < 8 << 20  # broadcast stays small (< 8 MB)
    m2 = pickle.loads(payload)
    t = ["The weather today is sunny with a light breeze."]
    assert langid.predict(t, m2["langid"])[0][0] == "en"


# sha256 of each trained table's bytes. Training is part of the score
# parquet's contract: a change that moves one of these must bump
# __spark_entry__._SCORES_VERSION and update the digest here.
MODEL_DIGESTS = {
    ("langid", "table"):
        "d90adc1a8bbb5a76060c3d877eeb5f31d8c162a27362d01bbf9e696d24ae8853",
    ("lm", "lp3"):
        "2a49c03e1a84e0daf1c0ad50ea5a528d5fccd1700f1ff8f1833f6b7f4596bb57",
    ("lm", "lp2s"):
        "05f46856073e01ed2163807862b42c37cc55bde482fe02dc15174c3cd0fc3cd1",
    ("lm", "seen3"):
        "570675e94665adbdbfe18deeb3ac640772c969564441357c54a90ebb306fed65",
    ("quality", "w"):
        "a0d2015c013faec96e79d07b9abee798aac5b6eb5e5f0b7fd6f75320d7a767ea",
}


def test_trained_model_tables_are_pinned(models):
    import hashlib

    import __spark_entry__

    assert __spark_entry__._SCORES_VERSION == "v2"
    for (model, key), digest in MODEL_DIGESTS.items():
        table = np.ascontiguousarray(models[model][key])
        assert hashlib.sha256(table.tobytes()).hexdigest() == digest, \
            (model, key)


# --- learned quality classifier (models/quality.py, r4 verdict #2) -------

def test_quality_separates_natural_from_junk(models):
    from data_quality_check_spark.models import quality

    natural = [s for ss in corpus.SENTENCES.values() for s in ss]
    junk = corpus.QUALITY_NEGATIVES + [
        "$$$ click here buy now !!! free offer ### subscribe to win",
        "qqq www eee rrr ttt yyy uuu iii ooo ppp qqq www eee rrr ttt",
    ]
    s_nat = quality.score(natural, models["quality"])
    s_junk = quality.score(junk, models["quality"])
    # training data scores are allowed to be optimistic; the gate margin
    # that matters is the fixture's, pinned by the gate sweep — here we
    # pin a wide margin around THRESHOLD for both pools
    assert s_nat.min() > quality.THRESHOLD + 0.2
    assert s_junk.max() < quality.THRESHOLD - 0.03


def test_quality_batch_geometry_invariance(models):
    from data_quality_check_spark.models import quality

    texts = [s for ss in corpus.SENTENCES.values() for s in ss[:5]]
    texts += corpus.QUALITY_NEGATIVES[:5] + ["", None, "ab", "héllo wörld"]
    whole = quality.score(texts, models["quality"])
    for i, t in enumerate(texts):
        one = quality.score([t], models["quality"])
        assert one[0] == whole[i]  # bit-identical
    # and across a shuffled batch order
    idx = list(range(len(texts)))[::-1]
    rev = quality.score([texts[i] for i in idx], models["quality"])
    for j, i in enumerate(idx):
        assert rev[j] == whole[i]


def test_quality_empty_scores_zero(models):
    from data_quality_check_spark.models import quality

    s = quality.score(["", None, "ab"], models["quality"])
    assert s.tolist() == [0.0, 0.0, 0.0]


def test_quality_distributed_training_bit_identical(spark, models):
    """train_spark (corpus-scale labeled frames) must produce the
    IDENTICAL model to local train() on the same texts, under any
    partitioning — per-batch integer bucket counts sum exactly."""
    from data_quality_check_spark.models import quality

    pos = [s for ss in corpus.SENTENCES.values() for s in ss]
    neg = list(corpus.QUALITY_NEGATIVES)
    local = quality.train(pos, neg)
    pos_df = spark.createDataFrame([(t,) for t in pos], "text string")
    neg_df = spark.createDataFrame([(t,) for t in neg], "text string")
    for parts in (1, 7):
        dist = quality.train_spark(pos_df.repartition(parts),
                                   neg_df.repartition(parts))
        assert (dist["w"] == local["w"]).all()  # bit-identical
    # and the default embedded-pool model is the same thing
    assert (local["w"] == models["quality"]["w"]).all()


def test_quality_train_from_sources(spark, models):
    """Weak-supervision path: provenance labels select the frames."""
    from pyspark.sql import functions as F

    from data_quality_check_spark.models import quality

    pos = [s for ss in corpus.SENTENCES.values() for s in ss]
    neg = list(corpus.QUALITY_NEGATIVES)
    rows = [(t, "wiki") for t in pos] + [(t, "crawl") for t in neg]
    docs = spark.createDataFrame(rows, "text string, source string")
    m = quality.train_from_sources(docs, ["wiki"], ["crawl"])
    assert (m["w"] == quality.train(pos, neg)["w"]).all()
    # scoring with it separates the pools as usual
    s = quality.score(pos[:5] + neg[:5], m)
    assert s[:5].min() > 0.5 > s[5:].max()


def test_quality_scores_fuzz_spark_equals_python(spark, bc_models, models):
    """Property fuzz: arbitrary unicode texts (collected once into one
    DataFrame job) must score bit-identically through the Spark UDF and
    the direct Python reference — the invariant the score-parquet oracle
    pattern rests on."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_quality_check_spark.models import quality
    from data_quality_check_spark.operators import textstats

    corpus_strategy = st.lists(
        st.one_of(st.text(max_size=80), st.none()),
        min_size=1, max_size=30)

    @settings(max_examples=5, deadline=None)  # 5 Spark jobs, 30 rows each
    @given(corpus_strategy)
    def check(texts):
        ref = quality.score(texts, models["quality"])
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string")
        got = {r["doc_id"]: r["q_score"] for r in
               textstats.quality_model_table(
                   df.repartition(3), bc_models).collect()}
        for i in range(len(texts)):
            assert got[i] == ref[i]

    check()


def test_score_buckets_exact_deciles(spark):
    """score_buckets must equal the exact rank-based decile cut (ties
    share a bucket) and be invariant to partitioning."""
    from data_quality_check_spark.operators import textstats

    rows = [(i, (i % 100) / 100.0) for i in range(300)]  # 3-way ties
    df = spark.createDataFrame(rows, "doc_id long, q_score double")
    got = {r["doc_id"]: r["bucket"] for r in
           textstats.score_buckets(df, n_buckets=10).collect()}
    # reference: exclusive count of strictly-smaller keys, integer cut
    keys = {i: int((i % 100) / 100.0 * 1_000_000) for i, _ in rows}
    for i in range(300):
        below = sum(1 for j in keys.values() if j < keys[i])
        assert got[i] == min(9, (10 * below) // 300)
    got7 = {r["doc_id"]: r["bucket"] for r in
            textstats.score_buckets(df.repartition(7),
                                    n_buckets=10).collect()}
    assert got7 == got
    # monotone: higher score → same-or-higher bucket; all 10 present
    assert sorted(set(got.values())) == list(range(10))
    for i in range(299):
        if keys[i] < keys[i + 1]:
            assert got[i] <= got[i + 1]


def test_quality_spark_parity_across_partitioning(spark, bc_models, models):
    """The Spark UDF path must be bit-identical to the Python reference
    AND invariant to partitioning/batch geometry (the score-parquet
    oracle pattern rests on exactly this)."""
    from pyspark.sql import functions as F

    from data_quality_check_spark.models import quality
    from data_quality_check_spark.operators import textstats

    texts = [s for ss in corpus.SENTENCES.values() for s in ss[:6]]
    texts += corpus.QUALITY_NEGATIVES[:6] + ["", "ab"]
    ref = quality.score(texts, models["quality"])
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for parts in (1, 7):
        out = textstats.quality_model_table(
            df.repartition(parts), bc_models)
        got = {r["doc_id"]: r["q_score"] for r in out.collect()}
        for i in range(len(texts)):
            assert got[i] == ref[i]  # bit-identical, any geometry
    # keep flag matches the threshold decision
    out = textstats.quality_model_table(df, bc_models)
    for r in out.collect():
        assert r["keep_quality"] == (ref[r["doc_id"]] >= quality.THRESHOLD)
