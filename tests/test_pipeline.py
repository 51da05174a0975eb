"""Plan-shape and ordering tests: stable (conv_id, turn_idx) output, salted
skew repartition, lineage/metrics consistency, pushdown + codegen checks."""

from __future__ import annotations

import re
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from data_quality_check_spark.plans import pipeline


def test_stable_order_contiguous_and_sorted(spark, transcripts_tiny):
    out = pipeline.stable_order(
        transcripts_tiny.select("conv_id", "turn_idx"), 4)

    def check(part):
        rows = list(part)
        seen_done = set()
        last = None
        for r in rows:
            if last is not None and r.conv_id != last.conv_id:
                assert last.conv_id not in seen_done  # contiguous blocks
                seen_done.add(last.conv_id)
            if last is not None and r.conv_id == last.conv_id:
                a = -1 if last.turn_idx is None else last.turn_idx
                b = -1 if r.turn_idx is None else r.turn_idx
                assert b >= a  # sorted within conversation
            last = r
        return iter([len(rows)])

    counts = out.rdd.mapPartitions(check).collect()
    assert sum(counts) == transcripts_tiny.count()


def test_salted_repartition_preserves_rows(spark, transcripts_tiny):
    df = transcripts_tiny.select("conv_id", "turn_idx", "text")
    salted = pipeline.salted_repartition(df, buckets=8, turns_per_chunk=2,
                                         num_partitions=16)
    assert salted.count() == df.count()
    assert "_salt" in salted.columns
    # a long conversation actually spreads across >1 salt value
    long_conv = spark.createDataFrame(
        [("big", i, "t") for i in range(100)], "conv_id string, turn_idx int, text string")
    n_salts = (pipeline.salted_repartition(long_conv, buckets=8,
                                           turns_per_chunk=4)
               .select("_salt").distinct().count())
    assert n_salts > 1


def test_skewed_conversation_spreads_under_salt(spark):
    """SURVEY §7 step 6: one pathological 20k-turn conversation among
    100-turn ones — salted repartition must spread it across partitions
    while plain conv_id partitioning necessarily concentrates it."""
    rows = [("huge", i) for i in range(20000)]
    rows += [(f"c{j}", i) for j in range(20) for i in range(100)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int")

    def partition_sizes(d):
        return sorted(
            d.rdd.mapPartitions(lambda it: iter([sum(1 for _ in it)]))
            .collect(), reverse=True)

    plain = partition_sizes(df.repartition(8, "conv_id"))
    salted = partition_sizes(pipeline.salted_repartition(
        df, buckets=8, turns_per_chunk=512, num_partitions=8))
    assert plain[0] >= 20000            # the huge conv lands whole somewhere
    assert salted[0] < 20000 * 0.5      # salt splits it
    assert sum(salted) == sum(plain) == 22000


def test_metrics_table_consistency(spark, transcripts_tiny):
    lab = pipeline.label_turns(transcripts_tiny, with_models=False)
    m = pipeline.metrics_table(lab, with_models=False, input_files=False)
    tot = m.agg(F.sum("n_turns"), F.sum("n_kept"), F.sum("n_dropped")).first()
    n = transcripts_tiny.count()
    assert tot[0] == n
    assert tot[1] + tot[2] == n
    # reason histogram sums match direct counts
    hist = (m.select(F.explode("reason_counts").alias("reason", "cnt"))
            .groupBy("reason").agg(F.sum("cnt").alias("n")).collect())
    direct = {
        r["reason"]: r["n"]
        for r in lab.select(F.explode("drop_reasons").alias("reason"))
        .groupBy("reason").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for r in hist:
        assert r["n"] == direct.get(r["reason"], 0)


def test_observe_labels_inflight_counts(spark, transcripts_tiny):
    lab = pipeline.label_turns(transcripts_tiny, with_models=False)
    observed, obs = pipeline.observe_labels(lab)
    n = observed.count()  # one action; metrics ride along
    got = obs.get
    assert got["n_turns"] == n
    assert got["n_kept"] + got["n_dropped"] == n
    direct = lab.filter("keep").count()
    assert got["n_kept"] == direct


def test_lineage_covers_input_files(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("c1", 0, "user", "hello world okay", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).repartition(3).write.parquet(src)
    df = spark.read.parquet(src)
    lab = pipeline.label_turns(df, with_models=False)
    m = pipeline.metrics_table(pipeline.with_input_file(lab),
                               with_models=False, input_files=True)
    files = {r[0] for r in m.select("input_file").collect()}
    assert files  # real file paths captured via _metadata
    assert all(f.startswith("file:") or f.startswith("/") for f in files)


def test_heuristic_stage_is_single_codegen_stage(spark, transcripts_tiny):
    """The heuristic-only labeling must stay narrow: no Exchange other than
    the duplicate-turn window, and the rule expressions inside
    WholeStageCodegen."""
    lab = pipeline.label_turns(transcripts_tiny, with_models=False)
    lab.collect()  # materialize THIS plan so AQE publishes the final one
    plan = lab._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    plan = plan.split("== Initial Plan ==")[0]  # final plan section only
    assert "*(" in plan  # whole-stage-codegen stage markers
    # exactly one shuffle: the (conv_id, turn_idx) window for dup detection
    assert plan.count("Exchange hashpartitioning") == 1
    # rules/scrub never fall out of the JVM
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_scan_prunes_columns(spark):
    """Transcript derivation reads only (doc_id, text) from documents."""
    from data_quality_check_spark.sources import transcripts

    t = transcripts.load(spark, "/root/testdata/sf0.001")
    plan = t._jdf.queryExecution().executedPlan().toString()
    assert "doc_id" in plan
    for unused in ("lang", "source", "n_chars"):
        assert f",{unused}" not in plan.replace(" ", "")


def test_ruleset_diff_one_pass_both_directions(spark):
    import dataclasses

    from data_quality_check_spark.config import DEFAULT_RULESET
    from data_quality_check_spark.plans import pipeline as P

    from datetime import datetime

    ts = datetime(2023, 11, 15)
    rows = [
        ("c1", 0, "user", "one", None, ts),                    # 1 word
        ("c1", 1, "user", " ".join(["w"] * 8), None, ts),      # 8 words
        ("c1", 2, "user", " ".join(["the ok"] * 30), None, ts),  # 60 words
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    v2 = dataclasses.replace(DEFAULT_RULESET, version="v2",
                             min_words=1, max_words=50)
    diff = {(r["conv_id"], r["turn_idx"]): (r["keep_old"], r["keep_new"])
            for r in P.ruleset_diff(df, DEFAULT_RULESET, v2).collect()}
    assert diff[("c1", 0)] == (False, True)   # re-kept by lower floor
    assert diff[("c1", 2)] == (True, False)   # dropped by lower ceiling
    assert ("c1", 1) not in diff              # unchanged rows not emitted
    # plan sanity: one pass — no self-join of two labelings
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        P.ruleset_diff(df, DEFAULT_RULESET, v2).explain()
    assert buf.getvalue().count("SortMergeJoin") == 0


def test_conversation_filter_drops_majority_junk_convs(spark):
    """Conversation-level rollup: a conversation with > permille share of
    dropped turns is dropped whole; apply keeps only kept turns of kept
    conversations."""
    from datetime import datetime

    from data_quality_check_spark.plans import pipeline as P

    ts = datetime(2023, 11, 15)
    good = " ".join(["the quick brown fox jumps ok fine"] * 3)
    rows = ([("good", i, "user", good, None, ts) for i in range(4)]
            # 'mixed': 1 of 4 turns junk (25% <= 50%) → kept
            + [("mixed", 0, "user", "x", None, ts)]
            + [("mixed", i, "user", good, None, ts) for i in range(1, 4)]
            # 'junk': 3 of 4 turns junk (75% > 50%) → dropped whole
            + [("junk", i, "user", "zz", None, ts) for i in range(3)]
            + [("junk", 3, "user", good, None, ts)])
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    lab = P.label_turns(df, with_models=False)
    got = {r["conv_id"]: (r["n_turns"], r["n_dropped"], r["conv_keep"])
           for r in P.conversation_filter(lab, 500).collect()}
    assert got["good"] == (4, 0, True)
    assert got["mixed"] == (4, 1, True)
    assert got["junk"][2] is False and got["junk"][1] >= 3
    kept = {(r["conv_id"], r["turn_idx"]) for r in
            P.apply_conversation_filter(lab, 500).collect()}
    assert ("junk", 3) not in kept          # good turn of a dropped conv
    assert ("mixed", 0) not in kept         # junk turn of a kept conv
    assert {c for c, _ in kept} == {"good", "mixed"}


def test_models_on_survivors_same_decisions(spark, bc_models):
    """Cheap-filters-first mode: keep/drop and drop_reasons identical to
    eager scoring; scored columns are NULL exactly for rule-dropped rows."""
    from datetime import datetime

    from data_quality_check_spark.plans import pipeline as P

    ts = datetime(2023, 11, 15)
    good = " ".join(["the quick brown fox jumps over the lazy dog"] * 4)
    rows = [("c1", 0, "user", good, None, ts),
            ("c1", 1, "user", "x", None, ts),            # rule-dropped
            ("c1", 2, "user", "@@@@ #### $$$$ %%%%", None, ts),
            ("c1", 3, "assistant", good + " indeed", None, ts)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    eager = {r["turn_idx"]: r for r in P.label_turns(
        df, bc_models=bc_models).collect()}
    lazy = {r["turn_idx"]: r for r in P.label_turns(
        df, bc_models=bc_models, models_on_survivors=True).collect()}
    assert {i: r["keep"] for i, r in eager.items()} \
        == {i: r["keep"] for i, r in lazy.items()}
    for i in eager:
        if eager[i]["keep"] or set(eager[i]["drop_reasons"]) <= {
                "lang_conf", "perplexity"}:
            # survivor of the RULES: scored identically in both modes
            assert lazy[i]["lang"] == eager[i]["lang"]
            assert lazy[i]["ppl"] == eager[i]["ppl"]
            assert lazy[i]["drop_reasons"] == eager[i]["drop_reasons"]
        else:
            assert lazy[i]["lang"] is None and lazy[i]["ppl"] is None


@contextmanager
def _py4j_commands():
    """Count the py4j commands this process sends while the block runs
    (every thread's, through ClientServerConnection.send_command). The
    garbage collector is drained first and paused, so the count holds no
    deletes of JVM objects that earlier code dropped."""
    import gc

    from py4j.clientserver import ClientServerConnection

    real = ClientServerConnection.send_command
    n = [0]

    def send_command(self, command):
        n[0] += 1
        return real(self, command)

    gc.collect()
    gc.disable()
    ClientServerConnection.send_command = send_command
    try:
        yield n
    finally:
        ClientServerConnection.send_command = real
        gc.enable()


def _plan(df) -> str:
    """The optimized plan with expression ids, lambda numbering and
    `_common_expr_N` numbering stripped (they differ between two builds
    of the same plan)."""
    s = df._jdf.queryExecution().optimizedPlan().toString()
    s = re.sub(r"\blambda (\w+?)_\d+\b", r"lambda \1",
               re.sub(r"#\d+L?", "", s))
    first: dict[str, str] = {}
    return re.sub(r"_common_expr_\d+",
                  lambda m: first.setdefault(m[0], f"_ce{len(first)}"), s)


def test_labeler_reuse_skips_the_expression_build(spark, transcripts_tiny,
                                                  bc_models, tmp_path):
    """A built Labeler applied to a second chunk issues at most half the
    py4j commands of a fresh label_turns + metrics_table build, and gives
    the same plans."""
    src = str(tmp_path / "src")
    transcripts_tiny.repartition(4).write.parquet(src)
    files = sorted(spark.read.parquet(src).inputFiles())
    first = spark.read.parquet(*files[:2])
    second = spark.read.parquet(*files[2:])
    labeler = pipeline.Labeler(bc_models=bc_models)
    labeler.metrics(pipeline.with_input_file(labeler.label(first)))

    with _py4j_commands() as fresh:
        lab = pipeline.with_input_file(
            pipeline.label_turns(second, bc_models=bc_models))
        met = pipeline.metrics_table(lab)
    with _py4j_commands() as reused:
        lab2 = pipeline.with_input_file(labeler.label(second))
        met2 = labeler.metrics(lab2)
    assert reused[0] <= fresh[0] // 2, (reused[0], fresh[0])
    assert _plan(lab2) == _plan(lab)
    assert _plan(met2) == _plan(met)


@pytest.mark.parametrize("kw", [
    {"with_models": False},
    {"measure_latency": True, "models_on_survivors": True},
    {"dup_strategy": "none"},
])
def test_labeler_plans_equal_label_turns(spark, transcripts_tiny, bc_models,
                                         kw):
    """Every label_turns variant: a reused Labeler's plan is the plan of a
    fresh build."""
    labeler = pipeline.Labeler(bc_models=bc_models, **kw)
    labeler.label(transcripts_tiny)
    assert (_plan(labeler.label(transcripts_tiny))
            == _plan(pipeline.label_turns(transcripts_tiny,
                                          bc_models=bc_models, **kw)))
