"""Degenerate-input robustness: empty tables, all-null text, single rows —
the shapes a 100 TB pipeline inevitably sees in some partition."""

from __future__ import annotations

from data_quality_check_spark import io as dq_io
from data_quality_check_spark.operators import dedup, similarity, textstats
from data_quality_check_spark.plans import pipeline

SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
          "tool string, ts timestamp")


def _empty(spark):
    return spark.createDataFrame([], SCHEMA)


def test_label_turns_empty(spark):
    lab = pipeline.label_turns(_empty(spark), with_models=False)
    assert lab.count() == 0
    assert "keep" in lab.columns


def test_label_turns_empty_with_models(spark, bc_models):
    lab = pipeline.label_turns(_empty(spark), with_models=True,
                               bc_models=bc_models)
    assert lab.count() == 0


def test_metrics_table_empty(spark):
    lab = pipeline.label_turns(_empty(spark), with_models=False)
    m = pipeline.metrics_table(lab, with_models=False, input_files=False)
    assert m.count() == 0


def test_all_null_text(spark, bc_models):
    df = spark.createDataFrame(
        [("c", i, "user", None, None, None) for i in range(5)], SCHEMA)
    rows = pipeline.label_turns(df, with_models=True,
                                bc_models=bc_models).collect()
    for r in rows:
        assert not r["keep"]
        assert "null_text" in r["drop_reasons"]
        assert r["text_scrubbed"] is None
        assert r["lang"] == "und"


def test_single_row_operators(spark):
    docs = spark.createDataFrame([(1, "only one document here")],
                                 "doc_id long, text string")
    assert dedup.exact_duplicates(docs).count() == 0
    assert dedup.ngram_jaccard_pairs(docs, threshold=0.1).count() == 0
    assert dedup.minhash_lsh_pairs(docs, threshold=0.1).count() == 0
    assert dedup.simhash_pairs(docs).count() == 0
    assert textstats.token_counts(docs).count() == 1


def test_empty_docs_operators(spark):
    docs = spark.createDataFrame([], "doc_id long, text string")
    assert dedup.exact_duplicates(docs).count() == 0
    assert dedup.minhash_lsh_pairs(docs).count() == 0
    assert textstats.fingerprints(docs).count() == 0


def test_resolve_groups_empty(spark):
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup.resolve_groups(pairs).count() == 0


def test_run_job_empty_input(spark, tmp_path):
    src = str(tmp_path / "src")
    _empty(spark).write.parquet(src)
    out = str(tmp_path / "out")
    rep = dq_io.run_job(spark, src, out, with_models=False)
    # an empty parquet dir still lists >=0 files; no crash, no output rows
    assert rep.chunks_run >= 0


def test_pack_shards_empty(spark):
    from data_quality_check_spark.operators import sampling

    df = spark.createDataFrame([], "doc_id long, n_tokens long")
    out = sampling.pack_shards(df, budget=100)
    assert out.columns == ["doc_id", "n_tokens", "shard_id"]
    assert out.count() == 0


def test_curate_with_budget_empty(spark):
    """An empty corpus, or one every stage drops, packs into no shards
    instead of failing analysis on an empty offsets map."""
    from data_quality_check_spark.plans import curation

    docs = spark.createDataFrame([], "doc_id long, text string, lang string")
    assert curation.curate_corpus(docs, budget=1000).count() == 0
    junk = spark.createDataFrame([(1, "@@@ ### $$$", "en")],
                                 "doc_id long, text string, lang string")
    assert curation.curate_corpus(junk, budget=1000).count() == 0


def test_score_buckets_empty(spark):
    df = spark.createDataFrame([], "doc_id long, q_score double")
    assert textstats.score_buckets(df).count() == 0
