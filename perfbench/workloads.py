"""The three workloads: the call each run times, the output check, and the
traced decomposition into per-layer metrics.

  label_job   cli.main label mode (run_job: label -> stable order -> turns
              write -> metrics write -> manifest commit, then the CLI's
              output count)
  curate_web  cli.main curate mode (quality rules -> blocklist -> domain
              caps -> span dedup -> shard packing -> write -> counts)
  dedup_near  ngram_jaccard_pairs -> resolve_groups -> apply_dedup ->
              parquet write (the dedup_apply gate composition)

A traced run has two phases. `cuts` runs while the session is live: it
times plan cuts, where a layer measured by cuts is the noop-sink time of the
plan cut just after the layer minus the cut just before it. `layers` runs
after the session stopped and its event log is readable: it combines the
cuts with the spans of the traced call, where eager work inside a public
call is the duration of that call's span.
"""

from __future__ import annotations

import contextlib
import io as _stdio
import json
import os
import time

import pyarrow.parquet as pq

from . import gen

# every per-layer metric; a workload leaves the layers it never reaches at 0
LAYER_METRICS = {
    "sources.scan_s": "s", "sources.read_mb": "MB",
    "functions.rules_scrub_s": "s",
    "functions.udfs.scoring_s": "s", "functions.udfs.arrow_boundary_s": "s",
    "functions.udfs.python_mb": "MB",
    "functions.udfs.rows_scored_per_input_row": "count",
    "models.score_batch_s": "s",
    "pipeline.dup_key_s": "s", "pipeline.stable_order_s": "s",
    "pipeline.stable_order.shuffle_mb": "MB",
    "pipeline.stable_order.max_partition_frac": "fraction",
    "pipeline.metrics_table_s": "s",
    "io.list_input_files_s": "s", "io.write_turns_s": "s",
    "io.commit_s": "s", "io.chunks": "count", "io.run_job_self_s": "s",
    "pipeline.plan_build_s": "s", "functions.udfs.broadcast_models_s": "s",
    "cli.extra_actions_s": "s", "cli.spark_jobs": "count",
    "curation.build_s": "s", "curation.exec_s": "s",
    "curation.build_jobs": "count",
    "textstats.quality_pass_ids_s": "s", "domains.domain_caps_s": "s",
    "sampling.pack_shards_s": "s", "dedup.dedup_spans_s": "s",
    "dedup.shingle_set_s": "s", "dedup.ngram_jaccard_pairs_s": "s",
    "dedup.candidate_pairs": "count", "dedup.pairs_kept_frac": "fraction",
    "dedup.resolve_groups_s": "s", "dedup.cc_edges": "count",
    "dedup.cc_driver_path": "bool", "dedup.apply_dedup_s": "s",
    "dedup.apply_broadcast": "bool", "dedup.write_s": "s",
    "dedup.build_jobs": "count",
    "spark.jobs": "count", "spark.task_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.first_job_extra_s": "s",
    "trace.overhead_s": "s", "trace.layer_sum_frac": "fraction",
}

MB = 1e6


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed_cut(tracer, name: str, build) -> float:
    """Noop-sink seconds of the plan `build()` returns, under its own span;
    the plan is built outside the timed region."""
    df = build()
    with tracer.span(name) as sp:
        noop(df)
    return sp["end"] - sp["start"]


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(d) for f in fs
               if not f.endswith(".crc"))


def _parquet_files(d: str) -> list[str]:
    return sorted(os.path.join(r, f) for r, _, fs in os.walk(d)
                  for f in fs if f.endswith(".parquet"))


def _span_s(sp: dict) -> float:
    return sp["end"] - sp["start"]


def _quiet(fn, argv):
    """Run a CLI entry point, capturing its stdout JSON summary."""
    buf = _stdio.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = fn(argv)
    if rc != 0:
        raise RuntimeError(f"cli exited {rc}")
    lines = buf.getvalue().strip().splitlines()
    return json.loads(lines[-1]) if lines else {}


class Workload:
    name = ""
    # Calls per run. Calls keep getting faster for several calls while
    # the JVM warms up (JIT, plan analysis), so short workloads warm up
    # longer; enough measured calls for a steady median, within the run
    # budget.
    warmup_calls = 1
    min_calls = 4

    def __init__(self, meta: dict, out_dir: str):
        self.meta = meta
        self.inp = meta["input"]
        self.out = out_dir
        self.rows = meta["rows"]
        self.cut: dict = {}

    def call(self, spark) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        """Problems with the output of the last call ([] = correct)."""
        raise NotImplementedError

    def output_bytes(self) -> int:
        return _dir_bytes(self.out)

    def install(self, tracer) -> None:
        """Wrap the public calls the traced run records."""
        from pyspark.sql.readwriter import DataFrameWriter

        tracer.wrap(DataFrameWriter, "parquet", "write",
                    label=self._write_label)

    @staticmethod
    def _write_label(args, kwargs) -> str:
        path = str(kwargs.get("path", args[1] if len(args) > 1 else ""))
        for part in ("turns", "metrics"):
            if f"{os.sep}{part}{os.sep}" in path:
                return f"write.{part}"
        return "write"

    def cuts(self, spark, tracer) -> None:
        """Session-side part of the traced run; results go to self.cut."""

    def layers(self, tracer, ev, wall: float) -> dict:
        """Per-layer metrics; `wall` is the traced call's wall time, which
        trace.layer_sum_frac compares the layer sum against."""
        raise NotImplementedError


class LabelJob(Workload):
    name = "label_job"

    def call(self, spark) -> None:
        from data_quality_check_spark import cli

        self.summary = _quiet(cli.main, ["--input", self.inp, "--output",
                                         self.out, "--no-resume"])

    def _committed(self) -> list[str]:
        mdir = os.path.join(self.out, "_manifest")
        ids = []
        for f in sorted(os.listdir(mdir)):
            if f.endswith(".json"):
                with open(os.path.join(mdir, f)) as fh:
                    ids.append(json.load(fh)["chunk_id"])
        return ids

    def check(self) -> list[str]:
        exp = self.meta["expected"]
        bad = []
        ids = self._committed()
        n_chunks = -(-self.meta["input_files"] // gen.FILES_PER_CHUNK)
        if len(ids) != n_chunks:
            bad.append(f"{len(ids)} manifest entries, want {n_chunks}")
        out_rows = sum(pq.ParquetFile(f).metadata.num_rows
                       for i in ids for f in _parquet_files(
                           os.path.join(self.out, "turns", f"chunk={i}")))
        tot = {"n_turns": 0, "n_kept": 0, "n_dropped": 0}
        hist = {r: 0 for r in exp["reasons"]}
        for i in ids:
            for f in _parquet_files(os.path.join(self.out, "metrics",
                                                 f"chunk={i}")):
                t = pq.read_table(f, columns=["n_turns", "n_kept",
                                              "n_dropped", "reason_counts"])
                for k in tot:
                    tot[k] += sum(t.column(k).to_pylist())
                for m in t.column("reason_counts").to_pylist():
                    for r, c in m:
                        hist[r] = hist.get(r, 0) + c
        if not (self.rows == out_rows == tot["n_turns"]
                == self.summary.get("output_turns")):
            bad.append(f"rows: input {self.rows}, committed {out_rows}, "
                       f"metrics {tot['n_turns']}, cli {self.summary}")
        if (tot["n_kept"], tot["n_dropped"]) != (exp["n_kept"],
                                                 exp["n_dropped"]):
            bad.append(f"keep/drop {tot} != oracle {exp}")
        if hist != exp["reasons"]:
            bad.append(f"reason histogram {hist} != oracle {exp['reasons']}")
        return bad

    def install(self, tracer) -> None:
        from data_quality_check_spark import cli, io
        from data_quality_check_spark.functions import udfs
        from data_quality_check_spark.plans import pipeline

        super().install(tracer)
        tracer.wrap(cli, "main", "cli")
        tracer.wrap(udfs, "broadcast_models", "broadcast_models")
        tracer.wrap(io, "run_job", "io.run_job")
        tracer.wrap(io, "list_input_files", "io.list_input_files")
        # manifest reads (resume check) and commits
        tracer.wrap(io, "processed_files", "io.commit")
        tracer.wrap(io, "_commit_manifest", "io.commit")
        for fn in ("label_turns", "stable_order", "metrics_table"):
            tracer.wrap(pipeline, fn, f"pipeline.{fn}")

    def cuts(self, spark, tracer) -> None:
        from pyspark.sql import functions as F

        from data_quality_check_spark.functions.udfs import broadcast_models
        from data_quality_check_spark.models.scoring import score_batch
        from data_quality_check_spark.plans import pipeline

        # the same chunks run_job makes from the sorted file list
        files = _parquet_files(self.inp)
        per = gen.FILES_PER_CHUNK
        chunks = [files[i:i + per] for i in range(0, len(files), per)]
        bc = broadcast_models(spark)
        c = {k: 0.0 for k in ("scan", "dup", "rules", "udf", "order",
                              "write")}
        scratch = os.path.join(os.path.dirname(self.out), "cut-write")
        max_frac = 0.0
        for ch in chunks:
            def read(ch=ch):
                return spark.read.parquet(*ch)

            c["scan"] += timed_cut(tracer, "cut.scan", read)
            c["dup"] += timed_cut(
                tracer, "cut.dup",
                lambda: pipeline.dup_flag_column(read())[0])
            c["rules"] += timed_cut(
                tracer, "cut.rules",
                lambda: pipeline.label_turns(read(), with_models=False))
            c["udf"] += timed_cut(
                tracer, "cut.udf",
                lambda: pipeline.label_turns(read(), bc_models=bc))
            c["order"] += timed_cut(
                tracer, "cut.order",
                lambda: pipeline.stable_order(
                    pipeline.label_turns(read(), bc_models=bc)))
            # the turns write on its own: the stable-ordered rows are
            # cached first, so the timed write re-runs none of the cuts
            ordered = pipeline.stable_order(
                pipeline.label_turns(read(), bc_models=bc)).persist()
            noop(ordered)
            with tracer.span("cut.write") as sp:
                ordered.write.mode("overwrite").parquet(scratch)
            c["write"] += _span_s(sp)
            ordered.unpersist(blocking=True)
            # skew of the conversation-keyed shuffle: rows in the fullest
            # of 4 partitions per slot (an explicit count keeps AQE from
            # coalescing this small input into one partition)
            n_parts = 4 * spark.sparkContext.defaultParallelism
            sizes = [r[1] for r in pipeline.stable_order(read(), n_parts)
                     .groupBy(F.spark_partition_id()).count().collect()]
            max_frac = max(max_frac, max(sizes) / sum(sizes))
        # the scoring compute alone: the same texts in Arrow-batch-sized
        # slices, single-threaded in this process
        texts = pq.read_table(self.inp, columns=["text"]).column(
            "text").to_pylist()
        m = bc.value
        t0 = time.perf_counter()
        for i in range(0, len(texts), 10_000):
            score_batch(texts[i:i + 10_000], m["langid"], m["lm"])
        c.update(score_s=time.perf_counter() - t0, max_frac=max_frac,
                 slots=spark.sparkContext.defaultParallelism)
        self.cut = c

    def layers(self, tracer, ev, wall: float) -> dict:
        c = self.cut
        call = tracer.named("call")[0]
        groups = tracer.groups(call)

        def grp(name):
            return [tracer.group(s) for s in tracer.named(name)]

        # shuffle bytes of the stable-order cuts minus those of the cuts
        # before them (the dup-key shuffle both share)
        shuffle = (ev.task_sum(grp("cut.order"), "shuffle_write_bytes")
                   - ev.task_sum(grp("cut.udf"), "shuffle_write_bytes"))
        py_nodes = [n for n in ev.nodes(groups)
                    if "EvalPython" in n.get("nodeName", "")]
        py_rows = ev.metric(py_nodes, "number of output rows")
        py_bytes = ev.metric(py_nodes, "Python workers")
        scoring = c["udf"] - c["rules"]
        cli = tracer.named("cli")[0]
        run_job = tracer.named("io.run_job")[0]
        models = tracer.total("broadcast_models")
        out = {
            "sources.scan_s": c["scan"],
            "sources.read_mb": ev.scan_bytes(groups) / MB,
            "pipeline.dup_key_s": c["dup"] - c["scan"],
            "functions.rules_scrub_s": c["rules"] - c["dup"],
            "functions.udfs.scoring_s": scoring,
            "functions.udfs.arrow_boundary_s":
                scoring - c["score_s"] / c["slots"],
            "functions.udfs.python_mb": py_bytes / MB,
            "functions.udfs.rows_scored_per_input_row": py_rows / self.rows,
            "models.score_batch_s": c["score_s"],
            "pipeline.stable_order_s": c["order"] - c["udf"],
            "pipeline.stable_order.shuffle_mb": shuffle / MB,
            "pipeline.stable_order.max_partition_frac": c["max_frac"],
            "pipeline.metrics_table_s": tracer.total("write.metrics"),
            "io.list_input_files_s": tracer.total("io.list_input_files"),
            "io.write_turns_s": c["write"],
            "io.commit_s": tracer.total("io.commit"),
            "io.chunks": len(self._committed()),
            # the engine's time for the jobs run_job and the CLI run
            # themselves (chunk schema reads; the CLI's output count)
            "io.run_job_self_s": ev.job_s([tracer.group(run_job)]),
            "pipeline.plan_build_s": sum(
                tracer.total(f"pipeline.{f}") for f in (
                    "label_turns", "stable_order", "metrics_table")),
            "functions.udfs.broadcast_models_s": models,
            "cli.extra_actions_s": ev.job_s([tracer.group(cli)]),
            "cli.spark_jobs": ev.jobs(groups),
        }
        # every layer measured on its own: the cuts up to stable order
        # (scan .. order add up to the last cut), the cached turns write,
        # the spans of the other public calls, and the engine's job times
        # for the CLI's and run_job's own jobs. Driver-side glue is in no
        # layer, and a cut decomposition that misses part of the real
        # turns write moves the fraction away from 1.
        layer_sum = c["order"] + sum(out[k] for k in (
            "io.write_turns_s", "pipeline.metrics_table_s", "io.commit_s",
            "io.list_input_files_s", "io.run_job_self_s",
            "pipeline.plan_build_s", "functions.udfs.broadcast_models_s",
            "cli.extra_actions_s"))
        out["trace.layer_sum_frac"] = layer_sum / wall
        return out


class CurateWeb(Workload):
    name = "curate_web"

    def call(self, spark) -> None:
        from data_quality_check_spark import cli

        self.summary = _quiet(cli.main, [
            "--mode", "curate", "--input", self.inp, "--output", self.out,
            "--blocklist", ",".join(gen.CURATE_BLOCKED),
            "--domain-cap", str(gen.curate_cap(self.rows)),
            "--budget", str(gen.CURATE_BUDGET)])

    def check(self) -> list[str]:
        from . import reference

        exp = self.meta["expected"]
        t = pq.read_table(self.out, columns=[
            "doc_id", "text_deduped", "n_tokens", "shard_id", "host"])
        rows = list(zip(*(t.column(c).to_pylist() for c in t.column_names)))
        bad = []
        if len(rows) > self.rows:
            bad.append(f"kept {len(rows)} > input {self.rows}")
        if len(rows) != exp["kept"] or self.summary.get("kept_docs") != len(
                rows):
            bad.append(f"kept {len(rows)} (cli {self.summary}), "
                       f"reference {exp['kept']}")
        if reference.curate_digest(rows) != exp["digest"]:
            bad.append("curated output digest differs from the reference")
        return bad

    def install(self, tracer) -> None:
        from data_quality_check_spark import cli
        from data_quality_check_spark.operators import (dedup, domains,
                                                        sampling, textstats)
        from data_quality_check_spark.plans import curation

        super().install(tracer)
        tracer.wrap(cli, "main", "cli")
        tracer.wrap(curation, "curate_corpus", "curation.curate_corpus")
        tracer.wrap(textstats, "quality_pass_ids",
                    "textstats.quality_pass_ids")
        tracer.wrap(domains, "domain_caps", "domains.domain_caps")
        tracer.wrap(dedup, "dedup_spans", "dedup.dedup_spans")
        tracer.wrap(sampling, "pack_shards", "sampling.pack_shards")

    def cuts(self, spark, tracer) -> None:
        from data_quality_check_spark.operators import domains, textstats

        def read():
            return spark.read.parquet(self.inp)

        def quality():
            d = read()
            return d.join(textstats.quality_pass_ids(d), "doc_id")

        def capped():
            cur = domains.blocklist_filter(domains.with_host(quality()),
                                           list(gen.CURATE_BLOCKED))
            return domains.domain_caps(cur, gen.curate_cap(self.rows))

        self.cut = {
            "scan": timed_cut(tracer, "cut.scan", read),
            "quality": timed_cut(tracer, "cut.quality", quality),
            "caps": timed_cut(tracer, "cut.caps", capped),
        }

    def layers(self, tracer, ev, wall: float) -> dict:
        c = self.cut
        call = tracer.named("call")[0]
        curate = tracer.named("curation.curate_corpus")[0]
        build = _span_s(curate)
        exec_s = tracer.total("write")
        extra = ev.job_s([tracer.group(tracer.named("cli")[0])])
        return {
            "sources.scan_s": c["scan"],
            "sources.read_mb": ev.scan_bytes(tracer.groups(call)) / MB,
            "functions.rules_scrub_s": c["quality"] - c["scan"],
            "textstats.quality_pass_ids_s": c["quality"] - c["scan"],
            "domains.domain_caps_s": c["caps"] - c["quality"],
            # its eager span-table job re-runs quality + caps first
            "dedup.dedup_spans_s": tracer.total("dedup.dedup_spans")
            - c["caps"],
            "sampling.pack_shards_s": tracer.total("sampling.pack_shards"),
            "curation.build_s": build,
            "curation.exec_s": exec_s,
            "curation.build_jobs": ev.jobs(tracer.groups(curate)),
            # the engine's time for the CLI's own jobs (input schema, the
            # input and output counts)
            "cli.extra_actions_s": extra,
            "cli.spark_jobs": ev.jobs(tracer.groups(call)),
            "trace.layer_sum_frac": (build + exec_s + extra) / wall,
        }


class DedupNear(Workload):
    name = "dedup_near"
    warmup_calls = 2
    min_calls = 5

    def call(self, spark) -> None:
        from data_quality_check_spark.operators import dedup

        from . import reference

        docs = spark.read.parquet(self.inp)
        pairs = dedup.ngram_jaccard_pairs(
            docs, n=3, threshold=reference.JACCARD_THRESHOLD,
            max_shingle_df=reference.NGRAM_MAX_SHINGLE_DF)
        groups = dedup.resolve_groups(pairs)
        dedup.apply_dedup(docs, groups).write.mode("overwrite").parquet(
            self.out)

    def check(self) -> list[str]:
        from . import reference

        exp = self.meta["expected"]
        ids = pq.read_table(self.out, columns=["doc_id"]).column(
            "doc_id").to_pylist()
        bad = []
        if len(ids) != len(set(ids)):
            bad.append("duplicate doc ids in the output")
        if len(ids) != exp["kept"] or reference.ids_md5(ids) != exp[
                "kept_ids_md5"]:
            bad.append(f"kept {len(ids)} ids, reference {exp['kept']} "
                       "(or a different id set)")
        return bad

    def install(self, tracer) -> None:
        from pyspark.sql import functions

        from data_quality_check_spark.operators import dedup

        super().install(tracer)
        for fn in ("ngram_jaccard_pairs", "resolve_groups", "apply_dedup"):
            tracer.wrap(dedup, fn, f"dedup.{fn}")
        # the driver-side connected-components fast path, when taken
        tracer.wrap(dedup, "_union_find_min_labels", "dedup.cc_driver")
        # apply_dedup's broadcast hint, when it gives one
        tracer.wrap(functions, "broadcast", "broadcast")

    def cuts(self, spark, tracer) -> None:
        from data_quality_check_spark.operators import dedup

        self.cut = {"shingles": timed_cut(
            tracer, "cut.shingles",
            lambda: dedup.shingle_set(spark.read.parquet(self.inp)))}

    def layers(self, tracer, ev, wall: float) -> dict:
        # the final pair-count aggregate of the co-shingle join holds one row
        # per candidate pair; the distinct directed edge table, two rows per
        # pair that passed the threshold
        rg = tracer.named("dedup.resolve_groups")[0]
        aggs = [(n, n.get("simpleString", "")) for n in ev.nodes(
            tracer.groups(rg)) if n.get("nodeName") == "HashAggregate"]
        cand = ev.metric([n for n, s in aggs if "functions=[count(1)]" in s
                          and s.count("doc_id") == 2],
                         "number of output rows")
        edges = max([ev.metric([n], "number of output rows") for n, s in aggs
                     if "keys=[src" in s and "functions=[]" in s],
                    default=0.0)
        cc = tracer.named("dedup.cc_driver")
        if cc:
            edges = len(cc[0]["args"][0])
        # the program's own choice, not the join AQE ends up with
        apply = tracer.named("dedup.apply_dedup")[0]
        broadcast = any(sp["parent"] == apply["id"]
                        for sp in tracer.named("broadcast"))
        calls = ("dedup.ngram_jaccard_pairs", "dedup.resolve_groups",
                 "dedup.apply_dedup")
        stages = calls + ("write",)
        return {
            "dedup.shingle_set_s": self.cut["shingles"],
            "dedup.ngram_jaccard_pairs_s": tracer.total(
                "dedup.ngram_jaccard_pairs"),
            "dedup.candidate_pairs": cand,
            "dedup.pairs_kept_frac": edges / 2 / cand if cand else 0.0,
            "dedup.resolve_groups_s": tracer.total("dedup.resolve_groups"),
            "dedup.cc_edges": edges,
            "dedup.cc_driver_path": 1 if cc else 0,
            "dedup.apply_dedup_s": tracer.total("dedup.apply_dedup"),
            "dedup.apply_broadcast": 1 if broadcast else 0,
            "dedup.write_s": tracer.total("write"),
            # eager jobs inside the public calls (resolve_groups' edge
            # checkpoint), before the write executes the plan
            "dedup.build_jobs": ev.jobs([g for c in calls
                                         for sp in tracer.named(c)
                                         for g in tracer.groups(sp)]),
            "trace.layer_sum_frac": sum(tracer.total(s) for s in stages)
            / wall,
        }


WORKLOADS = {w.name: w for w in (LabelJob, CurateWeb, DedupNear)}
