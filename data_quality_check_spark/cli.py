"""spark-submit entry point for the quality-filter batch job.

The batch analog of the reference's standalone CLI mode
(/root/reference/data-quality-server/src/main.rs:44-88 — one-record
validation with an exit code) generalized to whole tables with resume:

    zip -r dqcs.zip data_quality_check_spark
    spark-submit --py-files dqcs.zip submit.py \
        --input  /data/transcripts \
        --output /data/labeled \
        [--no-models] [--no-resume] [--files-per-chunk 64] \
        [--output-partitions N] [--local N]

(submit.py at the repo root is the spark-submit shim — spark-submit
takes a script file, not -m; locally `python -m
data_quality_check_spark.cli` works directly.)

On a real cluster, run twice at N and 4N executors over the same input to
measure scaling efficiency (locally: bench.py + BENCH/scaling.py evidence
the same with local[8] vs local[32]).
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time


def build_session(local: int | None, shuffle_partitions: int | None):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("data-quality-check-spark")
    if local:
        b = b.master(f"local[{local}]")
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    b = (b.config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true"))
    return b.getOrCreate()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="data-quality-check-spark")
    ap.add_argument("--mode", choices=("label", "curate"), default="label",
                    help="label: resumable per-turn quality-filter job "
                         "(default); curate: corpus curation over a "
                         "documents table (quality filter -> domain caps "
                         "-> span dedup -> shard packing)")
    ap.add_argument("--input", required=True,
                    help="transcript table path (parquet dir); in curate "
                         "mode a documents table (doc_id, text[, lang, "
                         "url])")
    ap.add_argument("--output", required=True,
                    help="output dir (turns/ metrics/ _manifest/; curate "
                         "mode: curated parquet)")
    ap.add_argument("--domain-cap", type=int, default=None,
                    help="curate: keep at most N docs per host")
    ap.add_argument("--blocklist", default=None,
                    help="curate: comma-separated blocked hosts")
    ap.add_argument("--no-span-dedup", action="store_true",
                    help="curate: skip span-level dedup")
    ap.add_argument("--budget", type=int, default=None,
                    help="curate: pack shards under this BPE-token budget")
    ap.add_argument("--min-quality", type=float, default=None,
                    help="curate: drop docs scoring below this learned "
                         "quality probability (models/quality.py); "
                         "enables the classifier stage")
    ap.add_argument("--no-models", action="store_true",
                    help="heuristic-only pipeline (skip langid/perplexity)")
    ap.add_argument("--no-resume", action="store_true",
                    help="clear any existing checkpoint and start fresh")
    ap.add_argument("--measure-latency", action="store_true",
                    help="record per-chunk scoring-latency percentiles "
                         "(D10 duration histogram) under latency/")
    ap.add_argument("--lazy-scoring", action="store_true",
                    help="cheap-filters-first: score only rule-survivors "
                         "(NULL lang/ppl for rule-dropped turns)")
    ap.add_argument("--files-per-chunk", type=int, default=16)
    ap.add_argument("--output-partitions", type=int, default=None)
    ap.add_argument("--local", type=int, default=None,
                    help="run on local[N] (omit under spark-submit)")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args(argv)

    from . import io as dq_io

    if args.no_resume:
        shutil.rmtree(args.output, ignore_errors=True)

    spark = build_session(args.local, args.shuffle_partitions)
    t0 = time.time()

    if args.mode == "curate":
        from pyspark.sql import Observation, functions as F

        from .functions.udfs import broadcast_models
        from .plans import curation

        docs = spark.read.parquet(args.input)
        blocked = ([h.strip() for h in args.blocklist.split(",")
                    if h.strip()] if args.blocklist else None)
        q_bc = (broadcast_models(spark)
                if args.min_quality is not None else None)
        out = curation.curate_corpus(
            docs, blocked_hosts=blocked, domain_cap=args.domain_cap,
            span_dedup=not args.no_span_dedup, budget=args.budget,
            quality_model_bc=q_bc, min_quality=args.min_quality)
        # counted in the write's result stage instead of a re-read
        kept = Observation("curate")
        out = out.observe(kept, F.count(F.lit(1)).alias("n"))
        dq_io.parquet_writer(out).mode("overwrite").parquet(args.output)
        print(json.dumps({
            "mode": "curate",
            "input_docs": docs.count(),
            "kept_docs": kept.get["n"],
            "sec": round(time.time() - t0, 2),
        }))
        return 0
    # fail before any work on an output dir whose manifest lacks counts
    dq_io.committed_turns(args.output)
    # run_job broadcasts the models only when a chunk is left to label
    report = dq_io.run_job(
        spark, args.input, args.output,
        with_models=not args.no_models,
        files_per_chunk=args.files_per_chunk,
        output_partitions=args.output_partitions,
        measure_latency=args.measure_latency,
        models_on_survivors=args.lazy_scoring,
    )
    print(json.dumps({
        "chunks_run": report.chunks_run,
        "chunks_skipped": report.chunks_skipped,
        "output_turns": dq_io.committed_turns(args.output),
        "sec": round(time.time() - t0, 2),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
