"""Composable corpus-curation plan: the full web-curation chain as one
public API (the library form of the `corpus_curation_web` gate, which
oracle-checks this exact composition end to end).

Stages, each an already-oracled public operator, each optional:

  1. heuristic quality filter        (textstats.quality_scores)
  2. host extraction + blocklist +
     per-domain doc caps             (operators/domains.py)
  3. span-level dedup                (dedup.dedup_spans — content-defined
                                      chunks, offset-invariant)
  4. per-stratum balancing           (sampling.stratified_sample)
  5. shard packing under the BPE
     subword budget                  (textstats.bpe_token_estimate +
                                      sampling.pack_shards)

Everything stays one lazy DataFrame chain except the documented
materialization points inside the operators (span table checkpoint,
pack_shards offsets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT_RULESET, RuleSet


def curate_corpus(
    docs: DataFrame,
    cfg: RuleSet = DEFAULT_RULESET,
    *,
    blocked_hosts: list[str] | None = None,
    domain_cap: int | None = None,
    span_dedup: bool = True,
    strata_col: str = "lang",
    strata_fracs: dict[str, float] | None = None,
    strata_default: float = 1.0,
    budget: int | None = None,
    quality_model_bc=None,
    min_quality: float | None = None,
) -> DataFrame:
    """Curate a documents table (doc_id, text[, lang, url]).

    Returns the surviving docs with `text_deduped` (when span_dedup),
    `host` (when domain stages ran), and `n_tokens`/`shard_id` (when
    `budget` is set — BPE subword units). Domain stages require a `url`
    column; balancing requires `strata_col`.

    quality_model_bc: a broadcast_models() handle — when given, the
    LEARNED quality classifier (models/quality.py) filters docs scoring
    below `min_quality` (default quality.THRESHOLD) right after the
    heuristic stage, the CCNet/FineWeb gate order (cheap rules first,
    model score second, dedup last)."""
    from ..operators import dedup, domains, sampling, textstats
    from ..operators.guards import barrier_filter

    q = textstats.quality_pass_ids(docs, cfg)
    cur = docs.join(q, "doc_id")

    if quality_model_bc is not None:
        qm = textstats.quality_model_table(
            cur, quality_model_bc, threshold=min_quality)
        # barrier: the keep_quality filter stays above the scoring
        # projection, so the model runs once per doc (pinned by
        # test_plans.py::test_barrier_keeps_heavy_expr_once)
        keep = (barrier_filter(qm, F.col("keep_quality"))
                .select("doc_id"))
        cur = cur.join(keep, "doc_id")

    if blocked_hosts is not None or domain_cap is not None:
        cur = domains.with_host(cur)
        if blocked_hosts:
            cur = domains.blocklist_filter(cur, blocked_hosts)
        if domain_cap:
            cur = domains.domain_caps(cur, domain_cap)

    text_col = "text"
    if span_dedup:
        sd = dedup.dedup_spans(cur.select("doc_id", "text"))
        cur = (cur.drop("text")
               .join(sd.select("doc_id", "text_deduped"), "doc_id"))
        text_col = "text_deduped"

    if strata_fracs:
        cur = sampling.stratified_sample(cur, "doc_id", strata_col,
                                         strata_fracs, strata_default)

    if budget:
        # single-pass tail (r6): pack_shards' offsets job and the final
        # join-back both consume the curated table — a lazy checkpoint
        # runs the quality→domains→span-dedup→stratify chain ONCE (the
        # offsets job materializes it) instead of once per consumer.
        # Same discipline as the operators' own multi-consumer
        # intermediates (dedup_spans' span table).
        t = cur.withColumn(
            "n_tokens", textstats.bpe_token_estimate(F.col(text_col))
        ).localCheckpoint(eager=False)
        packed = sampling.pack_shards(t.select("doc_id", "n_tokens"),
                                      budget=budget)
        cur = packed.join(t.drop("n_tokens"), "doc_id")
    return cur
