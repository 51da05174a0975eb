"""The quality-filter pipeline: scan → validate → score → scrub → label.

Spark re-imagination of the reference's validate_json orchestration
(/root/reference/data-quality-server/src/json_validation.rs:17-149): what
the reference does per HTTP request becomes ONE declarative plan per batch —
a single narrow select chain (whole-stage codegen) plus exactly one shuffle
(duplicate-turn detection on the composite key (conv_id, turn_idx)).

Scale design (100 TB / 10^12 turns):
  * All heuristic rules + scrub are native expressions → JVM, codegen, no
    Python in the hot path; filters/column pruning push to the Parquet scan.
  * The model scores are ONE iterator pandas UDF (Arrow batches, broadcast
    models) computing langid+perplexity in a single hashing pass.
  * The only wide dependency keys on (conv_id, turn_idx) — high cardinality,
    no conversation-length skew. Conversation-LEVEL grouping (stable output
    ordering) partitions by conv_id only where requested, with a documented
    salting helper for pathological conversations.
  * AQE handles partition coalescing; output is repartitioned by conv_id and
    sorted within partitions for stable (conv_id, turn_idx) ordering.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..config import DEFAULT_RULESET, RuleSet
from ..functions import rules
from ..functions.scrub import scrub_column
from ..functions.udfs import broadcast_models, make_scores_udf
from ..operators.guards import barrier_filter


def _dup_count(strategy: str) -> Column:
    """The duplicate-key count dup_flag_column's frame carries."""
    if strategy == "none":
        return F.lit(1)
    return F.coalesce(F.col("_dup_count"), F.lit(1))


def _dup_key_exprs():
    """The expressions of dup_flag_column's broadcast strategy: the key
    count, its duplicate filter, the renamed keys and the join
    condition."""
    return (
        F.count(F.lit(1)).alias("_dup_count"),
        F.col("_dup_count") > 1,
        [F.col("conv_id").alias("_dk_conv"),
         F.col("turn_idx").alias("_dk_idx"), "_dup_count"],
        # null-safe keys: the DuckDB/oracle twins group NULL keys together
        F.col("conv_id").eqNullSafe(F.col("_dk_conv"))
        & F.col("turn_idx").eqNullSafe(F.col("_dk_idx")),
    )


def _join_dup_keys(df: DataFrame, exprs) -> DataFrame:
    count, dup, keys, on = exprs
    dup_keys = (df.groupBy("conv_id", "turn_idx").agg(count)
                .filter(dup).select(*keys))
    return df.join(F.broadcast(dup_keys), on, "left")


def dup_flag_column(df: DataFrame, strategy: str = "broadcast"):
    """(df', dup_count_col) marking duplicated (conv_id, turn_idx) keys.

    strategy='broadcast' (default, the 100 TB path): aggregate a 2-column
    projection — the shuffle carries only (conv_id, turn_idx), never text —
    then broadcast-join the (rare) duplicated keys back.
    strategy='none' (streaming): no dup detection, every count is 1 — no
    global view per micro-batch; dup handling is
    dropDuplicates-within-watermark upstream or a batch sweep later.
    """
    if strategy != "none":
        df = _join_dup_keys(df, _dup_key_exprs())
    return df, _dup_count(strategy)


def _feature_projections() -> list[dict[str, Column]]:
    """The two projections of the prelude label_turns and ruleset_diff
    share: the word/line arrays, then every feature (`_f_<name>`) over
    them. Each is materialized ONCE per row in its own projection
    (CollapseProject keeps multi-referenced non-cheap aliases there, so
    split/translate run once instead of once per consuming rule)."""
    text = F.col("text")
    feats = rules.feature_columns_from(
        text, F.col("_words"), F.col("_lines"))
    return [rules.split_columns(text),
            {f"_f_{k}": v for k, v in feats.items()}]


def _featurize(df: DataFrame, dup_exprs,
               projections: list[dict[str, Column]]) -> DataFrame:
    """The dup flag (_dup_key_exprs(), or None for strategy 'none'), then
    _feature_projections() in order."""
    out = df if dup_exprs is None else _join_dup_keys(df, dup_exprs)
    for cols in projections:
        out = out.withColumns(cols)
    return out


def _rule_flags(cfg: RuleSet, dup_strategy: str,
                projections: list[dict[str, Column]]):
    """The validation + heuristic (reason, condition) pairs over the
    columns _featurize adds."""
    cols = {c: F.col(c) for c in ("conv_id", "turn_idx", "role", "text",
                                  "tool", "ts")}
    feats = {k.removeprefix("_f_"): F.col(k) for k in projections[1]}
    return (rules.validation_flags(cols, cfg, _dup_count(dup_strategy))
            + rules.heuristic_flags(feats, F.col("text"), cfg))


class Labeler:
    """label_turns and run_job's metrics_table with every expression
    built ONCE, for applying to many frames: the dup-key join's, the
    feature projections, the flags, drop_reasons, keep, the scrub, one
    scoring UDF and the metrics aggregates. Building them is thousands of
    py4j commands and most of a plan build; applying them to a frame
    issues only its join/withColumn/select/agg calls, so run_job builds
    one per job and every chunk reuses it (two pool threads may apply it
    at once: the Columns are unresolved and never mutated). Plans are
    identical to a fresh label_turns/metrics_table build.

    The Columns belong to the session that built them: build a Labeler
    per job, never cache one beyond its session. `bc_models` (a
    broadcast_models() handle) is required when `with_models`."""

    def __init__(self, cfg: RuleSet = DEFAULT_RULESET, *,
                 with_models: bool = True, bc_models=None,
                 dup_strategy: str = "broadcast",
                 measure_latency: bool = False,
                 models_on_survivors: bool = False):
        text = F.col("text")
        self._dup = None if dup_strategy == "none" else _dup_key_exprs()
        self._projections = _feature_projections()
        flags = _rule_flags(cfg, dup_strategy, self._projections)
        # (name, column) in withColumn order after the prelude
        steps: list[tuple[str, Column]] = []
        if with_models:
            scores = make_scores_udf(bc_models, timed=measure_latency)
            if models_on_survivors:
                # rule-only keep decision, evaluated BEFORE the model pass
                steps.append(
                    ("_rk", F.size(rules.reasons_array(flags)) == 0))
                steps.append(("_scores", scores(F.when(F.col("_rk"), text))))
                guard = F.col("_rk")
            else:
                steps.append(("_scores", scores(text)))
                guard = F.lit(True)
            flags = flags + [
                ("lang_conf", guard & text.isNotNull()
                 & (F.col("_scores.lang_conf") < cfg.min_lang_conf)),
                ("perplexity", guard & text.isNotNull()
                 & (F.col("_scores.ppl") > cfg.max_perplexity)),
            ]
        steps += [
            ("drop_reasons", rules.reasons_array(flags)),
            ("keep", F.size("drop_reasons") == 0),
            ("text_scrubbed", scrub_column(text)),
        ]
        if with_models:
            steps += [(c, F.when(guard, F.col(f"_scores.{c}")))
                      for c in ("lang", "lang_conf", "ppl")]
            if measure_latency:
                steps.append(("batch_us", F.col("_scores.batch_us")))
        self._steps = steps
        self._out_cols = [name for name, _ in steps
                          if not name.startswith("_")]
        self._metrics = _metrics_columns(cfg, with_models,
                                         input_files=True)

    def label(self, df: DataFrame) -> DataFrame:
        """label_turns(df, ...) with this Labeler's settings."""
        out = _featurize(df, self._dup, self._projections)
        for name, col in self._steps:
            out = out.withColumn(name, col)
        return out.select(*df.columns, *self._out_cols)

    def metrics(self, labeled: DataFrame) -> DataFrame:
        """metrics_table(labeled, cfg, with_models=...) of a frame that
        with_input_file tagged."""
        return _aggregate_metrics(labeled, *self._metrics)


def label_turns(
    df: DataFrame,
    cfg: RuleSet = DEFAULT_RULESET,
    *,
    with_models: bool = True,
    bc_models=None,
    dup_strategy: str = "broadcast",
    measure_latency: bool = False,
    models_on_survivors: bool = False,
) -> DataFrame:
    """Add keep/drop_reasons/text_scrubbed (+ lang/lang_conf/ppl) columns.

    `with_models=False` gives the heuristic-only pipeline (fully
    SQL-expressible — used by the DuckDB correctness oracle).
    `measure_latency=True` (models only) also emits `batch_us` — the
    measured per-Arrow-batch scoring duration (D10 histogram source,
    operators/latency.py); score values are bit-identical either way.

    `models_on_survivors=True` is the cheap-filters-first 100 TB mode:
    rows already dropped by the validation/heuristic rules feed NULL text
    into the scoring UDF (near-zero hashing work — Spark does not
    guarantee conditional-UDF skipping, so nulling the INPUT is the
    reliable form) and emit NULL lang/lang_conf/ppl. Keep/drop decisions
    are IDENTICAL to the eager mode (model rules can only re-drop
    survivors); only the scored columns of already-dropped rows differ,
    which is why the gate keeps the eager default.

    Builds a Labeler for this one frame; label many frames with one
    Labeler instead."""
    if with_models and bc_models is None:
        bc_models = broadcast_models(df.sparkSession)
    return Labeler(cfg, with_models=with_models, bc_models=bc_models,
                   dup_strategy=dup_strategy,
                   measure_latency=measure_latency,
                   models_on_survivors=models_on_survivors).label(df)


def keep_counts() -> list[Column]:
    """The keep/drop count triple over a labeled frame's `keep` column:
    n_turns, n_kept, n_dropped — aggregates for agg() or observe()."""
    return [
        F.count(F.lit(1)).alias("n_turns"),
        F.count_if(F.col("keep")).alias("n_kept"),
        F.count_if(~F.col("keep")).alias("n_dropped"),
    ]


def observe_labels(labeled: DataFrame, name: str = "qf"):
    """Attach a Spark Observation to the labeled stream: keep/drop counts
    collected DURING the job's own pass (no second action) — the in-flight
    form of the reference's request counter (metrics.rs:17-21). io.run_job
    attaches it after stable_order, so it counts in the turns write's
    result stage (accumulator updates apply exactly once only in result
    tasks; a pre-shuffle observe can double-count on executor loss).
    Observations that are live at the same time need distinct names:
    run_job's two in-flight chunks each pass `qf-<chunk_id>`.
    Returns (df, observation); read `observation.get` after an action
    completes."""
    from pyspark.sql import Observation

    obs = Observation(name)
    return labeled.observe(obs, *keep_counts()), obs


def conversation_filter(labeled: DataFrame,
                        max_drop_permille: int = 500) -> DataFrame:
    """Conversation-LEVEL keep decision over per-turn labels: a
    conversation survives iff its dropped-turn share is ≤
    max_drop_permille/1000 (a mostly-junk conversation poisons its
    surviving turns' context, so corpus curation drops it whole).

    Integer share math (n_dropped·1000 ≤ permille·n_turns) — no float
    division, engine-exact. One map-side-combinable aggregate keyed on
    conv_id; join the result back (broadcast if small) to materialize the
    filtered corpus."""
    return (
        labeled.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.count_if(~F.col("keep")).alias("n_dropped"),
        )
        .withColumn(
            "conv_keep",
            F.col("n_dropped") * 1000
            <= F.lit(max_drop_permille) * F.col("n_turns"))
    )


def apply_conversation_filter(labeled: DataFrame,
                              max_drop_permille: int = 500) -> DataFrame:
    """Materialize the conversation-filtered corpus: kept turns of kept
    conversations. The conv-keep side is one row per conversation — AQE
    broadcasts it while it fits; at 10^9+ conversations the join-back
    degrades to a shuffle on conv_id, which downstream stable_order
    repartitions on anyway (same key — the exchange is reused, not
    added)."""
    keep_convs = (conversation_filter(labeled, max_drop_permille)
                  .filter(F.col("conv_keep")).select("conv_id"))
    return labeled.filter(F.col("keep")).join(keep_convs, "conv_id")


def stable_order(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Stable (conv_id, turn_idx) ordering: hash-partition by conv_id, sort
    within partitions. One shuffle; downstream readers see each conversation
    contiguous and in turn order."""
    parted = (df.repartition(num_partitions, "conv_id") if num_partitions
              else df.repartition("conv_id"))
    return parted.sortWithinPartitions("conv_id", "turn_idx")


def salted_repartition(df: DataFrame, buckets: int, turns_per_chunk: int = 4096,
                       num_partitions: int | None = None) -> DataFrame:
    """Skew-defusing repartition for conversation-level work: a pathological
    10^5-turn conversation is split into `turn_idx // turns_per_chunk` chunks
    salted across `buckets` partitions; callers re-merge per conv_id only
    where conversation-global context is required."""
    salt = F.pmod(
        F.xxhash64("conv_id", F.floor(F.col("turn_idx") / turns_per_chunk)),
        F.lit(buckets),
    )
    df = df.withColumn("_salt", salt)
    parted = (df.repartition(num_partitions, "conv_id", "_salt")
              if num_partitions else df.repartition("conv_id", "_salt"))
    return parted


def with_input_file(df: DataFrame) -> DataFrame:
    """Add the `input_file` lineage column (the scan's
    `_metadata.file_path`) that metrics_table(input_files=True) reads.
    Add it BEFORE a persist(): `_metadata` does not resolve against a
    cached relation, so a later select that re-resolves it silently
    falls off the cache and recomputes the whole plan."""
    return df.withColumn("input_file", F.col("_metadata.file_path"))


def metrics_table(labeled: DataFrame, cfg: RuleSet = DEFAULT_RULESET,
                  *, with_models: bool = True,
                  input_files: bool = True) -> DataFrame:
    """Per-partition lineage + metrics — the batch analog of the reference's
    OTel counter/histogram report (/root/reference/data-quality-server/src/
    metrics.rs:11-31, emission json_validation.rs:44-83).

    One row per (partition, input file): turn counts, keep/drop counts and a
    per-reason histogram map, tagged with the ruleset version.
    `input_files=True` reads the lineage column with_input_file adds, in
    the manifest's path form (`file:/x` → `/x`, one rewrite per metrics
    row); `input_files=False` tags every row "<memory>". Labeler.metrics
    is the same table from expressions built once per job.
    """
    return _aggregate_metrics(
        labeled, *_metrics_columns(cfg, with_models,
                                   input_files=input_files))


def _metrics_columns(cfg: RuleSet, with_models: bool, *,
                     input_files: bool):
    """metrics_table's expressions: the per-row projection, the
    aggregates and the columns set after the groupBy."""
    from ..config import REASONS

    reasons = [r for r in REASONS
               if with_models or r not in ("lang_conf", "perplexity")]
    file_col = F.col("input_file") if input_files else F.lit("<memory>")
    base = [
        F.spark_partition_id().alias("partition_id"),
        file_col.alias("input_file"),
        F.col("keep"),
        F.col("drop_reasons"),
    ]
    reason_entries = []
    for r in reasons:
        reason_entries.append(F.lit(r))
        reason_entries.append(
            F.count_if(F.array_contains("drop_reasons", r))
        )
    aggs = [*keep_counts(),
            F.create_map(*reason_entries).alias("reason_counts")]
    after = {"ruleset_version": F.lit(cfg.version)}
    if input_files:
        after["input_file"] = F.regexp_replace("input_file", "^file:/+", "/")
    return base, aggs, after


def _aggregate_metrics(labeled: DataFrame, base: list[Column],
                       aggs: list[Column],
                       after: dict[str, Column]) -> DataFrame:
    return (
        labeled.select(*base)
        .groupBy("partition_id", "input_file")
        .agg(*aggs)
        .withColumns(after)
    )


def ruleset_diff(df: DataFrame, cfg_old: RuleSet,
                 cfg_new: RuleSet) -> DataFrame:
    """Ruleset-migration impact: label the SAME rows under two ruleset
    versions in ONE pass and report every turn whose keep decision flips,
    with both reason lists.

    The batch analog of the reference's runtime-mutable descriptor
    registry (handlers.rs PUT /descriptors — swap the schema, revalidate):
    before rolling cfg_new over 100 TB, run the diff on a sample and read
    exactly what changes. ONE pass: one scan, one dup-key detection, one
    feature derivation — only the threshold comparisons run twice. No
    self-join (which would also mis-multiply duplicated composite keys).
    Heuristic rules only: model-score thresholds diff by comparing the
    scored lang_conf/ppl columns of one label_turns pass.
    """
    projections = _feature_projections()
    out = _featurize(df, _dup_key_exprs(), projections)
    for tag, cfg in (("old", cfg_old), ("new", cfg_new)):
        flags = _rule_flags(cfg, "broadcast", projections)
        out = out.withColumn(f"_r_{tag}", rules.reasons_array(flags))
    # barrier: a pushed-down flip filter would re-expand every feature
    flips = (F.size("_r_old") == 0) != (F.size("_r_new") == 0)
    return (
        barrier_filter(out, flips)
        .select(
            "conv_id", "turn_idx",
            (F.size("_r_old") == 0).alias("keep_old"),
            (F.size("_r_new") == 0).alias("keep_new"),
            F.array_join("_r_old", ",").alias("reasons_old"),
            F.array_join("_r_new", ",").alias("reasons_new"),
        )
    )
