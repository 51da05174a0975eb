"""Checkpoint/resume: the Iceberg-snapshot analog (SURVEY §2.3 C5 mapping).

Kill the job after k chunk commits, restart, and require exactly-once
output: no duplicate and no missing (conv_id, turn_idx, text) rows, and
lineage covering every input file exactly once."""

from __future__ import annotations

from collections import Counter
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from data_quality_check_spark import io as dq_io


@pytest.fixture()
def src(spark, tmp_path):
    p = str(tmp_path / "src")
    rows = [(f"c{i % 7}", i // 7, ["user", "assistant"][i % 2],
             f"turn number {i} with some ordinary words here", None, None)
            for i in range(200)]
    (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
     .repartition(8).write.parquet(p))
    return p


@contextmanager
def _crash_at_commit(n: int, *, after: bool):
    """Kill run_job at its nth manifest commit: right before it (n-1
    chunks committed, the nth chunk's data already written) or right
    after it (n committed). The patched function runs where the real
    commit does, on run_job's own thread inside the chunk pool's block."""
    real = dq_io._commit_manifest
    calls = 0

    def commit(output_dir, entry):
        nonlocal calls
        calls += 1
        if calls == n and not after:
            raise RuntimeError(
                f"injected failure before manifest commit of chunk {n}")
        real(output_dir, entry)
        if calls == n:
            raise RuntimeError(f"injected failure after {n} chunks")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dq_io, "_commit_manifest", commit)
        yield


def _keys(spark, out_dir):
    return (dq_io.read_output(spark, out_dir)
            .select("conv_id", "turn_idx", "text").collect())


def test_resume_after_injected_failure(spark, tmp_path, src):
    out = str(tmp_path / "out")
    with (_crash_at_commit(2, after=True),
          pytest.raises(RuntimeError, match="injected failure")):
        dq_io.run_job(spark, src, out, with_models=False,
                      files_per_chunk=2)
    partial = _keys(spark, out)
    assert 0 < len(partial) < 200

    report = dq_io.run_job(spark, src, out, with_models=False,
                           files_per_chunk=2)
    assert report.chunks_skipped == 4  # 2 chunks × 2 files already committed
    rows = _keys(spark, out)
    keys = [(r["conv_id"], r["turn_idx"], r["text"]) for r in rows]
    assert len(keys) == 200
    assert len(set(keys)) == 200  # no duplicates, no missing

    # lineage: every input file appears in metrics exactly once per chunk
    files_in = set(dq_io.list_input_files(spark, src))
    manifest_files = [f for e in dq_io.read_manifest(out)
                      for f in e["input_files"]]
    assert sorted(manifest_files) == sorted(files_in)
    # the metrics table holds the manifest's path form: the two join raw
    metric_files = {
        r[0] for r in dq_io.read_metrics(spark, out)
        .select("input_file").distinct().collect()
    }
    assert metric_files == set(manifest_files) == files_in


def test_rerun_is_noop(spark, tmp_path, src):
    out = str(tmp_path / "out")
    r1 = dq_io.run_job(spark, src, out, with_models=False, files_per_chunk=4)
    assert r1.chunks_run == 2
    r2 = dq_io.run_job(spark, src, out, with_models=False, files_per_chunk=4)
    assert r2.chunks_run == 0
    assert r2.chunks_skipped == 8
    assert dq_io.read_output(spark, out).count() == 200


def test_metrics_match_output(spark, tmp_path, src):
    out = str(tmp_path / "out")
    dq_io.run_job(spark, src, out, with_models=False, files_per_chunk=100)
    m = dq_io.read_metrics(spark, out)
    assert m.agg(F.sum("n_turns")).first()[0] == 200
    n_kept = m.agg(F.sum("n_kept")).first()[0]
    assert n_kept == (dq_io.read_output(spark, out)
                      .filter("keep").count())


def test_resume_after_crash_before_manifest_commit(spark, tmp_path, src):
    """The hard crash window: data parquet written, manifest NOT committed.
    The orphan chunk dir must be invisible to readers and must be
    overwritten (not duplicated) by the re-run."""
    out = str(tmp_path / "out")
    with (_crash_at_commit(2, after=False),
          pytest.raises(RuntimeError, match="before manifest commit")):
        dq_io.run_job(spark, src, out, with_models=False,
                      files_per_chunk=2)
    # one chunk committed, at least one orphaned on disk (the next chunk
    # may have been in flight too)
    assert len(dq_io.read_manifest(out)) == 1
    import os
    assert len(os.listdir(os.path.join(out, "turns"))) >= 2
    # readers see only the committed chunk
    assert len(_keys(spark, out)) == 50  # 1 chunk × 2 files × 25 rows

    report = dq_io.run_job(spark, src, out, with_models=False,
                           files_per_chunk=2)
    assert report.chunks_skipped == 2  # only the COMMITTED chunk's files
    keys = [(r["conv_id"], r["turn_idx"], r["text"])
            for r in _keys(spark, out)]
    assert len(keys) == 200
    assert len(set(keys)) == 200  # orphan overwritten, not double-counted
    # every orphan dir was overwritten by its chunk, none left beside them
    ids = {f"chunk={e['chunk_id']}" for e in dq_io.read_manifest(out)}
    for sub in ("turns", "metrics"):
        assert set(os.listdir(os.path.join(out, sub))) == ids
    # metrics lineage also exactly-once
    files_in = set(dq_io.list_input_files(spark, src))
    metric_files = {
        r[0] for r in dq_io.read_metrics(spark, out)
        .select("input_file").distinct().collect()
    }
    assert metric_files == files_in


def test_output_partitions_sets_files_per_chunk(spark, tmp_path, src):
    import glob
    import os
    out = str(tmp_path / "out")
    dq_io.run_job(spark, src, out, with_models=False, files_per_chunk=4,
                  output_partitions=1)
    entries = dq_io.read_manifest(out)
    assert len(entries) == 2
    for e in entries:
        chunk_dir = os.path.join(out, "turns", f"chunk={e['chunk_id']}")
        assert len(glob.glob(f"{chunk_dir}/part-*.parquet")) == 1
    assert dq_io.read_output(spark, out).count() == 200


def test_list_input_files_starts_no_job(spark, src):
    """The listing comes from the file index: the same sorted paths the
    input_file_name() scan finds, without a Spark job."""
    sc = spark.sparkContext
    scanned = sorted(
        dq_io.normalize_file_uri(r[0]) for r in spark.read.parquet(src)
        .select(F.input_file_name()).distinct().collect())
    group = "test-list-input-files"
    sc.setJobGroup(group, "list_input_files")
    try:
        files = dq_io.list_input_files(spark, src)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(files) == 8
    assert files == scanned
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_chunk_read_starts_no_job(spark, src):
    """run_job infers the input schema once per job: a chunk read under it
    starts no job (a bare read of the same files starts the footer job),
    and the lineage column still resolves from the scan's `_metadata`."""
    from data_quality_check_spark.plans import pipeline

    sc = spark.sparkContext
    files = dq_io.list_input_files(spark, src)
    schema = spark.read.parquet(*files[:2]).schema

    def jobs(group, read):
        sc.setJobGroup(group, "chunk read")
        try:
            fields = pipeline.with_input_file(read()).columns
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert "input_file" in fields
        return list(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("test-chunk-read",
                lambda: dq_io._read_chunk(spark, files[2:4], schema)) == []
    assert jobs("test-chunk-read-bare",
                lambda: spark.read.parquet(*files[2:4])) != []


def _last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def _scored_rows(spark, after: int) -> int:
    """Rows out of every ArrowEvalPython node (the scoring UDF) in the SQL
    executions started after execution id `after`, from the session's SQL
    status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    total = 0
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid <= after:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            if node.name() != "ArrowEvalPython":
                continue
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined():
                    total += int(v.get().replace(",", ""))
    return total


@pytest.mark.parametrize("measure_latency", [False, True])
def test_run_job_scores_each_chunk_once(spark, tmp_path, src, bc_models,
                                        measure_latency):
    """One labeling pass per chunk: the turns, metrics (and latency)
    writes all read the chunk's cache, so the scoring UDF sees each
    input row exactly once."""
    out = str(tmp_path / "out")
    before = _last_execution_id(spark)
    dq_io.run_job(spark, src, out, bc_models=bc_models, files_per_chunk=4,
                  measure_latency=measure_latency)
    assert len(dq_io.read_manifest(out)) == 2
    assert _scored_rows(spark, before) == 200


def test_manifest_counts_match_metrics(spark, tmp_path):
    import os

    src = str(tmp_path / "src")
    rows = [(f"c{i % 5}", i // 5, "user",
             "ok" if i % 3 == 0 else f"turn number {i} with ordinary words",
             None, None) for i in range(120)]
    (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
     .repartition(6).write.parquet(src))
    out = str(tmp_path / "out")
    dq_io.run_job(spark, src, out, with_models=False, files_per_chunk=3)
    entries = dq_io.read_manifest(out)
    assert len(entries) == 2
    for e in entries:
        m = spark.read.parquet(
            os.path.join(out, "metrics", f"chunk={e['chunk_id']}"))
        sums = m.agg(*(F.sum(c).alias(c) for c in (
            "n_turns", "n_kept", "n_dropped"))).first().asDict()
        assert {k: e[k] for k in sums} == sums
    assert sum(e["n_turns"] for e in entries) == 120
    assert sum(e["n_dropped"] for e in entries) > 0
    assert dq_io.committed_turns(out) == 120


def test_failed_chunk_releases_its_cache(spark, tmp_path, src):
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with (_crash_at_commit(1, after=False),
          pytest.raises(RuntimeError, match="before manifest commit")):
        dq_io.run_job(spark, src, str(tmp_path / "out"), with_models=False,
                      files_per_chunk=2)
    assert jsc.getPersistentRDDs().size() <= before


def test_committed_turns_rejects_entries_without_counts(tmp_path):
    dq_io._commit_manifest(str(tmp_path), {
        "chunk_id": "0123abcd", "input_files": ["/x.parquet"],
        "ruleset_version": "v1", "has_latency": False})
    with pytest.raises(ValueError, match="--no-resume"):
        dq_io.committed_turns(str(tmp_path))


def _jobs(spark, after: int = -1) -> list[dict]:
    """Every job with an id above `after`, from the app status store:
    id, job group, description and submission/completion times (ms)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)

    def opt(o, conv=lambda v: v):
        return conv(o.get()) if o.isDefined() else None

    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() <= after:
            continue
        out.append({
            "id": j.jobId(), "group": opt(j.jobGroup()),
            "desc": opt(j.description()),
            "submitted": opt(j.submissionTime(), lambda d: d.getTime()),
            "completed": opt(j.completionTime(), lambda d: d.getTime())})
    return out


def _last_job_id(spark) -> int:
    return max((j["id"] for j in _jobs(spark)), default=-1)


def _chunk_ids(spark, src, files_per_chunk):
    """The chunk ids run_job derives, in chunk order."""
    import hashlib

    files = dq_io.list_input_files(spark, src)
    return [hashlib.sha256("\n".join(files[i:i + files_per_chunk])
                           .encode()).hexdigest()[:16]
            for i in range(0, len(files), files_per_chunk)]


def test_next_chunk_runs_while_previous_writes(spark, tmp_path, src):
    """Pipelined chunks: a job of chunk 2 is submitted before chunk 1's
    last job completes (jobs mapped to chunks by their description)."""
    before = _last_job_id(spark)
    dq_io.run_job(spark, src, str(tmp_path / "out"), with_models=False,
                  files_per_chunk=2)
    jobs = _jobs(spark, before)
    first, second = _chunk_ids(spark, src, 2)[:2]
    done_first = [j["completed"] for j in jobs
                  if j["desc"] == f"chunk {first}"]
    start_second = [j["submitted"] for j in jobs
                    if j["desc"] == f"chunk {second}"]
    assert done_first and start_second
    assert min(start_second) < max(done_first)


def test_chunk_jobs_keep_callers_job_group(spark, tmp_path, src):
    """Chunk bodies run on pool threads but every job they start stays in
    the caller's job group; ≥ 2 jobs per chunk, each named by its chunk."""
    sc = spark.sparkContext
    group = "test-run-job-group"
    before = _last_job_id(spark)
    sc.setJobGroup(group, "run_job")
    try:
        dq_io.run_job(spark, src, str(tmp_path / "out"), with_models=False,
                      files_per_chunk=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = _jobs(spark, before)
    assert jobs and all(j["group"] == group for j in jobs)
    ids = _chunk_ids(spark, src, 2)
    assert len(ids) == 4
    for cid in ids:
        assert sum(j["desc"] == f"chunk {cid}" for j in jobs) >= 2


def _metric_sums(spark, out):
    sums: dict = {}
    for r in dq_io.read_metrics(spark, out).collect():
        s = sums.setdefault(r["input_file"], {})
        for k in ("n_turns", "n_kept", "n_dropped"):
            s[k] = s.get(k, 0) + r[k]
        for reason, n in r["reason_counts"].items():
            s[reason] = s.get(reason, 0) + n
    return sums


def test_pipelined_chunks_equal_one_chunk(spark, tmp_path, src, bc_models):
    """4 pipelined chunks and 1 chunk give the same turns rows (every
    column, as a multiset), the same per-file metrics and 200 turns in
    the manifest."""
    from collections import Counter

    outs = {}
    for per in (2, 100):
        out = str(tmp_path / f"out{per}")
        dq_io.run_job(spark, src, out, bc_models=bc_models,
                      files_per_chunk=per)
        outs[per] = out
    entries = dq_io.read_manifest(outs[2])
    assert len(entries) == 4
    assert sum(e["n_turns"] for e in entries) == 200
    assert dq_io.committed_turns(outs[100]) == 200

    def rows(out):
        df = dq_io.read_output(spark, out).drop("chunk")
        return Counter(tuple(tuple(v) if isinstance(v, list) else v
                             for v in r) for r in df.collect())

    assert rows(outs[2]) == rows(outs[100])
    assert _metric_sums(spark, outs[2]) == _metric_sums(spark, outs[100])


def test_failing_chunk_stops_pipeline_cleanly(spark, tmp_path, src):
    """A real Spark error in chunk 2 while chunk 3 runs: run_job raises
    it, the manifest holds only chunk 1, and no chunk cache survives."""
    files = dq_io.list_input_files(spark, src)
    with open(files[3], "wb") as fh:  # second file of chunk 2
        fh.write(b"not a parquet file")
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    out = str(tmp_path / "out")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        dq_io.run_job(spark, src, out, with_models=False, files_per_chunk=2)
    assert [e["chunk_id"] for e in dq_io.read_manifest(out)] == \
        _chunk_ids(spark, src, 2)[:1]
    assert jsc.getPersistentRDDs().size() <= before


def _rewrite_snappy(chunk_dir: str) -> None:
    """Rewrite a committed chunk dir's part files as snappy Parquet, the
    codec of outputs committed before the tables were zstd (pyarrow;
    INT96 timestamps as Spark writes them; each file renamed, its stale
    .crc dropped)."""
    import glob
    import os

    import pyarrow.parquet as pq

    for f in glob.glob(os.path.join(chunk_dir, "*.parquet")):
        table = pq.ParquetFile(f).read()
        pq.write_table(table, f.replace(".zstd.", ".snappy."),
                       compression="snappy",
                       use_deprecated_int96_timestamps=True)
        os.remove(f)
        crc = os.path.join(chunk_dir, f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)


def _snappy_chunk(out: str) -> str:
    """Rewrite the turns and metrics of the committed chunk listed first
    in the manifest as snappy; return its id."""
    import os

    cid = dq_io.read_manifest(out)[0]["chunk_id"]
    for sub in ("turns", "metrics"):
        _rewrite_snappy(os.path.join(out, sub, f"chunk={cid}"))
    return cid


def _chunk_codecs(out: str) -> dict[str, set[str]]:
    """Codecs of each committed chunk's turns and metrics files."""
    import os

    from test_write_codec import parquet_codecs

    return {cid: parquet_codecs(os.path.join(out, "turns", f"chunk={cid}"))
            | parquet_codecs(os.path.join(out, "metrics", f"chunk={cid}"))
            for cid in (e["chunk_id"] for e in dq_io.read_manifest(out))}


def _row_counts(df) -> Counter:
    def freeze(v):
        if isinstance(v, dict):
            return tuple(sorted((k, freeze(x)) for k, x in v.items()))
        if isinstance(v, (list, tuple)):
            return tuple(map(freeze, v))
        return v

    return Counter(map(freeze, df.collect()))


def test_snappy_committed_chunk_reads_and_reruns(spark, tmp_path, src):
    """A chunk committed as snappy (by an older build) next to a zstd
    one: the re-run is still a no-op, and read_output/read_metrics return
    the same rows as before the rewrite."""
    out = str(tmp_path / "out")
    dq_io.run_job(spark, src, out, with_models=False, files_per_chunk=4)
    turns = _row_counts(dq_io.read_output(spark, out))
    metrics = _row_counts(dq_io.read_metrics(spark, out))
    snappy = _snappy_chunk(out)
    codecs = _chunk_codecs(out)
    assert codecs.pop(snappy) == {"SNAPPY"}
    assert list(codecs.values()) == [{"ZSTD"}]
    report = dq_io.run_job(spark, src, out, with_models=False,
                           files_per_chunk=4)
    assert (report.chunks_run, report.chunks_skipped) == (0, 8)
    assert _row_counts(dq_io.read_output(spark, out)) == turns
    assert _row_counts(dq_io.read_metrics(spark, out)) == metrics
    assert sum(turns.values()) == 200


def test_resume_over_snappy_committed_chunk(spark, tmp_path, src):
    """A crash after the first commit, that chunk then rewritten as
    snappy: the resume commits the rest in zstd and the output holds
    every row exactly once."""
    out = str(tmp_path / "out")
    with (_crash_at_commit(1, after=True),
          pytest.raises(RuntimeError, match="injected failure")):
        dq_io.run_job(spark, src, out, with_models=False,
                      files_per_chunk=2)
    assert len(dq_io.read_manifest(out)) == 1
    snappy = _snappy_chunk(out)
    report = dq_io.run_job(spark, src, out, with_models=False,
                           files_per_chunk=2)
    assert (report.chunks_run, report.chunks_skipped) == (3, 2)
    codecs = _chunk_codecs(out)
    assert codecs.pop(snappy) == {"SNAPPY"}
    assert list(codecs.values()) == [{"ZSTD"}] * 3
    keys = [(r["conv_id"], r["turn_idx"], r["text"])
            for r in _keys(spark, out)]
    assert len(keys) == len(set(keys)) == 200
    assert dq_io.committed_turns(out) == 200
    assert (dq_io.read_metrics(spark, out)
            .agg(F.sum("n_turns")).first()[0]) == 200
