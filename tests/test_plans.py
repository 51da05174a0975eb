"""Physical-plan assertions: the shapes we rely on at 100 TB.

These tests pin the PLAN, not the values: column pruning reaches the
parquet scan, the duplicate-key detector broadcast-joins instead of
window-shuffling full rows, and the exact similarity paths are distributed
block matmuls with no full-table driver collect.
"""

from __future__ import annotations

import contextlib
import inspect
import io

import pytest

from data_quality_check_spark.operators import similarity
from data_quality_check_spark.plans import pipeline
from data_quality_check_spark.sources import transcripts

SF = "/root/testdata/sf0.001"


def plan_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_transcript_scan_prunes_columns(spark):
    """The transcript derivation touches only (doc_id, text) — the parquet
    scan must read exactly those two columns (documents has 5)."""
    plan = plan_str(transcripts.load(spark, SF))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_dup_flag_uses_broadcast_join(spark, transcripts_tiny):
    """Default dup strategy: 2-column aggregate + broadcast join back —
    never a full-row window shuffle of the text column."""
    lab = pipeline.label_turns(transcripts_tiny, with_models=False)
    plan = plan_str(lab)
    assert "BroadcastHashJoin" in plan
    # the only hash-exchange feeding the dup aggregate carries the composite
    # key, not the text column
    assert "Window" not in plan


def test_dup_agg_shuffle_is_two_columns(spark, transcripts_tiny):
    """The duplicate-key aggregate projects (conv_id, turn_idx) only before
    its exchange, so shuffled bytes are keys + counts, never text."""
    lab = pipeline.label_turns(transcripts_tiny, with_models=False)
    plan = plan_str(lab, "extended")
    # physical HashAggregate for dup keys groups on exactly the 2 keys
    assert "hashpartitioning(conv_id" in plan


@pytest.mark.parametrize("fn", [
    similarity.pairs_above_fast,
    similarity.brute_force_topk,
    similarity._block_agg,
])
def test_similarity_exact_paths_have_no_driver_collect(fn):
    """The exact gate paths must never collect the corpus to the driver
    (VERDICT r01: driver OOM at 100×). Blocked matmul only."""
    src = inspect.getsource(fn)
    assert "toPandas" not in src
    assert ".collect()" not in src


@pytest.mark.parametrize("make_df", [
    lambda emb: similarity.pairs_above_fast(emb, threshold=0.8),
    lambda emb: similarity.brute_force_topk(emb, k=1),
], ids=["pairs_above_fast", "brute_force_topk"])
def test_exact_similarity_plans_are_blocked(spark, make_df):
    """Blocks are built by a collect_list aggregate and consumed by a
    distributed Python map; the HEAVY block rows reach the matmul only via
    equi-joins — any nested-loop/cartesian node may touch the int grid
    (spark.range legs), never the packed vectors."""
    import re

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_str(make_df(emb))
    assert "collect_list" in plan
    assert "MapInPandas" in plan
    assert plan.count("Range") >= 2  # the grid legs are spark.range scans
    # any theta-join condition must reference only the int grid keys —
    # the packed vector blocks join via equi-key BroadcastHashJoin/SMJ
    for cond in re.findall(r"Join condition: (.+)", plan):
        if cond.strip() != "None":
            assert re.fullmatch(r"\(blk_a#\d+ <= blk_b#\d+\)", cond.strip())


def test_minhash_band_exchange_excludes_signature(spark):
    """The LSH banding exchange must carry only (doc_id, band, band_hash) —
    the 32-long signature joins back on candidate pairs only (r01 shipped
    256 longs/doc through this shuffle)."""
    import re

    from data_quality_check_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # force the band self-join to SHUFFLE (at test scale it broadcasts) so
    # the exchange contents are visible in the plan
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_str(dedup.minhash_lsh_pairs(docs, threshold=0.5))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    band_exchanges = [
        blk for blk in re.split(r"\(\d+\) ", plan)
        if blk.startswith("Exchange") and "hashpartitioning(band" in blk
    ]
    assert band_exchanges, "expected a band-keyed exchange in the plan"
    for blk in band_exchanges:
        inputs = blk.split("Arguments:")[0]
        assert re.search(r"\bsig#", inputs) is None
        assert "band_hash" in inputs


def test_lsh_bucket_exchange_carries_codes_not_floats(spark):
    """r02 advice #5: the LSH bucket shuffle must carry int8 codes only,
    never the float vector (O(N·tables·dim·8B) tax) nor a per-row scale
    (no scorer reads one)."""
    import re

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_str(similarity.lsh_topk(emb, k=1))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    bucket_exchanges = [
        blk for blk in re.split(r"\(\d+\) ", plan)
        if blk.startswith("Exchange") and "hashpartitioning(table" in blk
    ]
    assert bucket_exchanges, "expected a (table, bucket)-keyed exchange"
    # the salted-scorer plan adds a probe-count agg exchange that carries
    # ONLY (table, bucket, count) — even slimmer; every exchange moving
    # posting rows must carry int8 codes, and none may carry the floats
    # or a scale
    assert any("code" in blk.split("Arguments:")[0]
               for blk in bucket_exchanges)
    for blk in bucket_exchanges:
        inputs = blk.split("Arguments:")[0]
        assert "code" in inputs or "count" in inputs
        assert re.search(r"\bembedding#", inputs) is None
        assert re.search(r"\bscale#", inputs) is None


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Co-located joins: two tables bucketed on the same key SortMergeJoin
    with ZERO exchanges — the pay-the-shuffle-once pattern write_bucketed
    exists for."""
    from pyspark.sql import functions as F

    from data_quality_check_spark import io as dq_io

    spark.sql(f"CREATE DATABASE IF NOT EXISTS btest LOCATION '{tmp_path}'")
    df = spark.range(5000).select(
        F.concat(F.lit("c"), F.col("id") % 97).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("x").alias("text"))
    for name in ("a", "b"):
        dq_io.write_bucketed(df, f"btest.{name}", str(tmp_path / name), 8,
                             key=("conv_id",), sort=("conv_id", "turn_idx"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("btest.a").join(spark.table("btest.b"),
                                        "conv_id")
        plan = plan_str(j)
        n = j.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE btest.a")
        spark.sql("DROP TABLE btest.b")
        spark.sql("DROP DATABASE btest")
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert n > 5000  # conv_id join multiplies within conversations


def _assert_rank_cap_pretrims_and_warns(spark, monkeypatch, module, build):
    """`build(spark, cap)` builds a plan whose rank cap `module` takes
    from guards.rank_cap: at the default caps (<= the optimizer's
    windowGroupLimitThreshold) every capped frame's executed plan holds a
    Partial WindowGroupLimit (each map task pre-trims, so a hot key ships
    cap * n_map_tasks rows, never its whole population), and a cap of
    1001 warns."""
    from data_quality_check_spark.operators import guards

    capped = []

    def spy(*args, **kwargs):
        capped.append(guards.rank_cap(*args, **kwargs))
        return capped[-1]

    monkeypatch.setattr(module, "rank_cap", spy)
    build(spark, None)
    assert capped, "the operator must cap through guards.rank_cap"
    for df in capped:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan
        assert "Partial" in plan.split("WindowGroupLimit", 1)[1][:200] \
            or plan.count("WindowGroupLimit") >= 2
    with pytest.warns(UserWarning, match="windowGroupLimitThreshold"):
        build(spark, 1001)


def test_ann_member_cap_gets_partial_window_group_limit(spark, monkeypatch):
    """MAX_GROUP must stay <= spark.sql.optimizer.windowGroupLimitThreshold
    so the ANN member-cap rank is pre-trimmed MAP-SIDE."""
    from pyspark.sql import functions as F

    post = spark.range(10000).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 3).cast("int").alias("table"),
        (F.col("id") % 7).alias("bucket"),
        F.lit(b"\x01").alias("code"))

    def build(spark, cap):
        kw = {} if cap is None else {"max_group": cap}
        return similarity._bounded_groups(post, post, ["table", "bucket"],
                                          "vec_id", **kw)

    _assert_rank_cap_pretrims_and_warns(spark, monkeypatch, similarity,
                                        build)


def _rank_cap_cases():
    """(id, module, build(spark, cap)) for the rank_cap callers besides
    the ANN member pool; cap None = the operator's default."""
    from data_quality_check_spark.operators import dedup, domains

    def docs(spark):
        return spark.read.parquet(f"{SF}/documents.parquet")

    def kw(name, cap):
        return {} if cap is None else {name: cap}

    def domain(spark, cap):
        d = spark.range(50).selectExpr(
            "id AS doc_id", "concat('https://h', id % 4, '.com/p') AS url")
        return domains.domain_caps(domains.with_host(d),
                                   10 if cap is None else cap)

    def incremental(spark, cap):
        d = docs(spark)
        index = dedup.minhash_build(d.filter("doc_id % 2 = 0"))
        return dedup.incremental_dedup_pairs(
            index, d.filter("doc_id % 2 = 1"),
            **kw("max_band_members", cap))

    return [
        ("domain_caps", domains, domain),
        ("minhash_lsh_pairs", dedup,
         lambda spark, cap: dedup.minhash_lsh_pairs(
             docs(spark), **kw("max_band_members", cap))),
        ("simhash_pairs", dedup,
         lambda spark, cap: dedup.simhash_pairs(
             docs(spark), **kw("max_band_members", cap))),
        ("incremental_dedup_pairs", dedup, incremental),
    ]


@pytest.mark.parametrize("module,build", [c[1:] for c in _rank_cap_cases()],
                         ids=[c[0] for c in _rank_cap_cases()])
def test_rank_cap_callers_get_partial_window_group_limit(
        spark, monkeypatch, module, build):
    """Every other guards.rank_cap caller gets the same map-side pre-trim
    and the same over-threshold warning as the ANN member pool."""
    _assert_rank_cap_pretrims_and_warns(spark, monkeypatch, module, build)


def test_quality_pass_ids_equals_filtered_scores(spark):
    """The r6 pushdown-barrier form must keep the exact pass set of
    quality_scores(...).filter('passes')."""
    from data_quality_check_spark.operators import textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fast = {r[0] for r in textstats.quality_pass_ids(docs).collect()}
    ref = {r[0] for r in textstats.quality_scores(docs)
           .filter("passes").select("doc_id").collect()}
    assert fast == ref and len(fast) > 0


def _barrier_cases():
    """(id, build(spark, bc_models) -> DataFrame, heavy-expression regex)
    for every guards.barrier_filter caller."""
    import dataclasses
    import re

    from data_quality_check_spark.config import DEFAULT_RULESET
    from data_quality_check_spark.functions.rules import WS
    from data_quality_check_spark.operators import dedup, textstats
    from data_quality_check_spark.plans import curation

    word_split = r"split\(text#\d+, " + re.escape(WS)

    def docs(spark):
        return spark.read.parquet(f"{SF}/documents.parquet")

    def diff(spark, bc):
        v2 = dataclasses.replace(DEFAULT_RULESET, version="v2", min_words=1)
        return pipeline.ruleset_diff(transcripts.load(spark, SF),
                                     DEFAULT_RULESET, v2)

    def incremental(spark, bc):
        d = docs(spark)
        index = dedup.minhash_build(d.filter("doc_id % 2 = 0"))
        return dedup.incremental_dedup_pairs(index,
                                             d.filter("doc_id % 2 = 1"))

    return [
        ("ruleset_diff", diff, word_split),
        ("quality_pass_ids",
         lambda spark, bc: textstats.quality_pass_ids(docs(spark)),
         word_split),
        ("minhash_lsh_pairs",
         lambda spark, bc: dedup.minhash_lsh_pairs(docs(spark)),
         r"zip_with\("),
        ("incremental_dedup_pairs", incremental, r"zip_with\("),
        ("curate_corpus",
         lambda spark, bc: curation.curate_corpus(
             docs(spark), span_dedup=False, quality_model_bc=bc),
         "ArrowEvalPython"),
    ]


_BARRIER_CASES = _barrier_cases()


@pytest.mark.parametrize("build,heavy", [c[1:] for c in _BARRIER_CASES],
                         ids=[c[0] for c in _BARRIER_CASES])
def test_barrier_keeps_heavy_expr_once(spark, bc_models, build, heavy):
    """Every guards.barrier_filter caller: the filter stays above the
    projection that computes its heavy input, so the optimized plan holds
    that expression exactly once. Without the barrier the split and
    zip_with cases push the filter down with the expression substituted
    in a second time."""
    import re

    df = build(spark, bc_models)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(heavy, plan)) == 1, plan
