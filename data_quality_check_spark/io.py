"""Resumable batch IO: snapshot-manifest checkpointing over Parquet.

The reference's config-producer keeps an mtime map of processed .proto files
and only re-processes changed ones
(/root/reference/config-producer-proto/src/main.rs:200-246 — the mtime
HashMap at 258-289 is exactly checkpoint state). The batch engine
generalizes that into snapshot-style checkpointing:

  * input is a set of Parquet files;
  * work is committed in CHUNKS of input files, which share one labeling
    build (pipeline.Labeler) and one input schema, both made once per
    job; each chunk is labeled ONCE into a cache that feeds its
    labeled-turns write and its per-partition lineage/metrics write; the
    turns write observes the chunk's turn and keep/drop counts in flight,
    and a manifest entry carrying them is then published ATOMICALLY
    (temp file + os.replace — the local stand-in for an Iceberg snapshot
    commit, whose summary carries `added-records`);
  * two chunks are in flight at once — the driver builds one chunk's plan
    while the other's jobs run — but manifest entries are committed by the
    calling thread in chunk order, so the committed chunks are always a
    prefix of the job's chunk list;
  * on restart, committed chunks are skipped by reading the manifest — so a
    killed job resumes with no duplicated and no missing (conv_id, turn_idx)
    rows (tests/test_resume.py): the remaining files re-chunk into the same
    chunk ids, whose uncommitted (orphan) dirs are overwritten.

At 100 TB scale the chunk is the unit of fault recovery ABOVE Spark's own
task retry: a lost executor re-runs tasks (spark.task.maxFailures), a lost
driver re-runs only un-committed chunks.

Every table the package commits is zstd Parquet (Iceberg's default codec
since 1.4.0): each Parquet write goes through `parquet_writer` or its
streaming twin `parquet_stream_writer`, which set the codec on the write
itself, never on the session, so a caller's own writes keep theirs.
Parquet records the codec per column chunk, so outputs committed by an
older build (snappy) read back and resume next to new chunks.
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import (DataFrame, DataFrameWriter, SparkSession,
                         functions as F)
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType

from .config import DEFAULT_RULESET, RuleSet
from .plans import pipeline

MANIFEST_DIR = "_manifest"
PARQUET_CODEC = "zstd"


def parquet_writer(df: DataFrame) -> DataFrameWriter:
    """`df.write` as Parquet with the committed codec: the one way the
    package writes a Parquet table (tests/test_write_codec.py scans for
    any other)."""
    return df.write.format("parquet").option("compression", PARQUET_CODEC)


def parquet_stream_writer(df: DataFrame) -> DataStreamWriter:
    """`df.writeStream` twin of parquet_writer."""
    return (df.writeStream.format("parquet")
            .option("compression", PARQUET_CODEC))


def normalize_file_uri(p: str) -> str:
    """Canonical plain path: Spark emits file:/ (input_file_name) and
    file:/// (_metadata.file_path) for the same local file."""
    for prefix in ("file:///", "file:/"):
        if p.startswith(prefix):
            return "/" + p[len(prefix):].lstrip("/")
    return p


def list_input_files(spark: SparkSession, input_path: str) -> list[str]:
    """Deterministic sorted list of the input's parquet part files, taken
    from the file index without running a Spark job. The declared schema
    is never read: it only skips the footer-reading schema-inference job
    a bare read starts. An empty part file is listed too; it is chunked
    and committed like any other and produces no metrics rows."""
    df = spark.read.schema("_unused int").parquet(input_path)
    return sorted(normalize_file_uri(f) for f in df.inputFiles())


def _manifest_path(output_dir: str) -> str:
    return os.path.join(output_dir, MANIFEST_DIR)


def read_manifest(output_dir: str) -> list[dict]:
    """Committed chunk entries, ordered by manifest file name — the chunk
    id, a hash of the chunk's files — not by commit sequence."""
    mdir = _manifest_path(output_dir)
    if not os.path.isdir(mdir):
        return []
    entries = []
    for name in sorted(os.listdir(mdir)):
        if name.endswith(".json"):
            with open(os.path.join(mdir, name)) as fh:
                entries.append(json.load(fh))
    return entries


def processed_files(output_dir: str) -> set[str]:
    return {f for e in read_manifest(output_dir) for f in e["input_files"]}


def committed_turns(output_dir: str) -> int:
    """Turns in the committed output, summed from the manifest entries'
    `n_turns` — no Spark job."""
    entries = read_manifest(output_dir)
    stale = [e["chunk_id"] for e in entries if "n_turns" not in e]
    if stale:
        raise ValueError(
            f"{output_dir} has chunks committed without turn counts "
            f"({', '.join(stale)}) by an older build: re-run with "
            "--no-resume")
    return sum(e["n_turns"] for e in entries)


def _commit_manifest(output_dir: str, entry: dict) -> None:
    """Atomic snapshot publish: write-temp + rename (Iceberg-commit analog)."""
    mdir = _manifest_path(output_dir)
    os.makedirs(mdir, exist_ok=True)
    final = os.path.join(mdir, f"{entry['chunk_id']}.json")
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(entry, fh)
    os.replace(tmp, final)


@dataclass
class JobReport:
    chunks_run: int
    chunks_skipped: int


def _read_chunk(spark: SparkSession, chunk: list[str],
                schema: StructType) -> DataFrame:
    """The chunk's files under the job's schema. A declared schema skips
    the footer-reading job a bare read starts for inference, and the
    scan's `_metadata.file_path` still resolves."""
    return spark.read.schema(schema).parquet(*chunk)


def _label_chunk(
    spark: SparkSession,
    chunk: list[str],
    schema: StructType,
    output_dir: str,
    labeler: pipeline.Labeler,
    cfg: RuleSet,
    *,
    timed: bool,
    output_partitions: int | None,
) -> dict:
    """Label one chunk and write its latency, turns and metrics dirs;
    return its manifest entry, uncommitted. Runs on a pool thread, so the
    description set here names every job of the chunk in the UI and the
    event log without touching the caller's job group."""
    chunk_id = hashlib.sha256("\n".join(chunk).encode()).hexdigest()[:16]
    spark.sparkContext.setLocalProperty("spark.job.description",
                                        f"chunk {chunk_id}")
    # ONE labeling pass per chunk: the latency, turns and metrics writes
    # all read this cache, so scan, features, scrub and the scoring UDF
    # run once (and batch_us describes the run that produced the
    # committed output)
    labeled = pipeline.with_input_file(
        labeler.label(_read_chunk(spark, chunk, schema))).persist()
    try:
        if timed:
            # D10 duration histogram: per-chunk scoring-latency
            # percentiles (metrics.rs:22-25 analog) written next to the
            # metrics table
            from .operators import latency as lat

            lat_rows = lat.percentiles(
                labeled.select(
                    F.spark_partition_id().alias("partition_id"),
                    "batch_us"),
                "batch_us", ("partition_id",))
            parquet_writer(lat_rows).mode("overwrite").parquet(
                os.path.join(output_dir, "latency", f"chunk={chunk_id}"))
        # counted after the shuffle, in the write's result stage
        out, counts = pipeline.observe_labels(pipeline.stable_order(
            labeled.drop("input_file", "batch_us"), output_partitions),
            name=f"qf-{chunk_id}")
        parquet_writer(out).mode("overwrite").parquet(
            os.path.join(output_dir, "turns", f"chunk={chunk_id}"))
        metrics = labeler.metrics(labeled)
        parquet_writer(metrics).mode("overwrite").parquet(
            os.path.join(output_dir, "metrics", f"chunk={chunk_id}"))
    finally:
        labeled.unpersist()
    return {
        "chunk_id": chunk_id,
        "input_files": chunk,
        "ruleset_version": cfg.version,
        # latency/chunk=<id>/ exists only for timed chunks; readers
        # filter on this so a mixed-flags output dir stays readable
        "has_latency": timed,
        # n_turns, n_kept, n_dropped
        **counts.get,
    }


def run_job(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    cfg: RuleSet = DEFAULT_RULESET,
    *,
    with_models: bool = True,
    bc_models=None,
    files_per_chunk: int = 16,
    output_partitions: int | None = None,
    measure_latency: bool = False,
    models_on_survivors: bool = False,
) -> JobReport:
    """Run (or resume) the labeling job over `input_path`.

    Output layout (every table zstd Parquet, see parquet_writer):
      output_dir/turns/chunk=<id>/   labeled + scrubbed turns
      output_dir/metrics/chunk=<id>/ per-partition lineage + metrics rows
      output_dir/latency/chunk=<id>/ scoring-latency percentiles (timed)
      output_dir/_manifest/<id>.json committed-chunk manifest (atomic),
                                     with the chunk's n_turns/n_kept/
                                     n_dropped

    The chunks share what does not depend on their data, made once on
    this thread before any chunk starts: the model broadcast, one
    pipeline.Labeler (every labeling and metrics expression and the
    scoring UDF) and the input schema, inferred from the first chunk's
    files (one footer job per job, not per chunk; files whose schema
    differs are read under it).

    Two chunks are in flight at once: each chunk's body (`_label_chunk`)
    runs on a 2-thread pool with the caller's local properties (job
    group, scheduler pool) and session tags, so the driver builds chunk
    i+1's plan while chunk i's jobs run. This thread commits the entries
    in chunk order, each only after every earlier chunk committed, so the
    committed chunks are always a prefix of the chunk list.

    Exactly-once across EVERY crash window: the chunk_id is derived from
    the chunk's sorted input-file list, and a re-run re-chunks the files
    after that prefix into the same ids, so a crash BETWEEN the parquet
    writes and the manifest commit leaves orphan directories (up to the
    two chunks in flight) that the re-run overwrites (same id,
    mode=overwrite) — and read_output()/read_metrics() read only
    manifest-committed chunk dirs anyway, so an orphan is never visible
    to readers even before the re-run. On any failure the chunk still in
    flight finishes (releasing its cache) before the error propagates,
    and no later chunk starts.

    Tests reach both crash windows by patching `_commit_manifest`, which
    runs on this thread: raising before the Nth commit's write (N-1
    committed, the Nth chunk's data on disk) or right after it (N
    committed).
    """
    files = list_input_files(spark, input_path)
    done = processed_files(output_dir)
    todo = [f for f in files if f not in done]
    chunks = [todo[i:i + files_per_chunk]
              for i in range(0, len(todo), files_per_chunk)]
    if chunks:
        if with_models and bc_models is None:
            from .functions.udfs import broadcast_models
            bc_models = broadcast_models(spark)
        labeler = pipeline.Labeler(
            cfg, with_models=with_models, bc_models=bc_models,
            measure_latency=measure_latency,
            models_on_survivors=models_on_survivors)
        schema = spark.read.parquet(*chunks[0]).schema
    # double buffering: one chunk's plan build overlaps the other's jobs
    with ThreadPoolExecutor(max_workers=2) as pool:
        def submit(chunk):
            # wrapped per chunk: the wrapper copies the caller's properties
            # once, and each chunk's description and SQL execution ids are
            # then set on its own copy, never on the other chunk's
            return pool.submit(
                inheritable_thread_target(spark)(_label_chunk),
                spark, chunk, schema, output_dir, labeler, cfg,
                timed=measure_latency and with_models,
                output_partitions=output_partitions)

        # chunk n+2 is submitted once chunk n has committed, so no chunk
        # ever waits in the pool's queue, and on any exception leaving
        # this block waits only for the one chunk still in flight
        futures = [submit(chunk) for chunk in chunks[:2]]
        for n in range(len(chunks)):
            _commit_manifest(output_dir, futures[n].result())
            if n + 2 < len(chunks):
                futures.append(submit(chunks[n + 2]))
    return JobReport(chunks_run=len(chunks),
                     chunks_skipped=len(files) - len(todo))


def _read_committed(spark: SparkSession, output_dir: str, sub: str,
                    ids: list[str]) -> DataFrame:
    """Read the `sub` dirs of the manifest-committed chunks `ids` ONLY —
    orphan dirs from a crash between data write and manifest commit are
    invisible (the snapshot-isolation read path; Iceberg gives this for
    free)."""
    if not ids:
        raise FileNotFoundError(f"no committed chunks under {output_dir}")
    base = os.path.join(output_dir, sub)
    paths = [os.path.join(base, f"chunk={i}") for i in ids]
    return spark.read.option("basePath", base).parquet(*paths)


def read_output(spark: SparkSession, output_dir: str) -> DataFrame:
    ids = [e["chunk_id"] for e in read_manifest(output_dir)]
    return _read_committed(spark, output_dir, "turns", ids)


def read_metrics(spark: SparkSession, output_dir: str) -> DataFrame:
    ids = [e["chunk_id"] for e in read_manifest(output_dir)]
    return _read_committed(spark, output_dir, "metrics", ids)


def read_latency(spark: SparkSession, output_dir: str) -> DataFrame:
    """Latency percentiles for the chunks that HAVE them: latency/ is
    written only when measure_latency AND with_models were set for a
    chunk, so a mixed run (resume with different flags, CLI without
    --measure-latency) must not make the reader fail on missing paths.
    Manifest entries record `has_latency`."""
    ids = [e["chunk_id"] for e in read_manifest(output_dir)
           if e["has_latency"]]
    if not ids:
        raise FileNotFoundError(
            f"no committed chunks with latency data under {output_dir} "
            "(run with measure_latency=True)")
    return _read_committed(spark, output_dir, "latency", ids)


# ---------------------------------------------------------------------------
# index persistence (minhash_save/load and ivf_save/load call these)
# ---------------------------------------------------------------------------

# meta fields every saved index carries after its own leading fields
_INDEX_META_TAIL = "buckets int, table string, nonce string"


def _index_table_name(prefix: str, path: str) -> str:
    """Catalog table name for a bucketed index saved at `path`: a short
    sanitized path tail for readability + an md5 tail for UNIQUENESS —
    a suffix-only derivation lets two different paths share a name, and
    saveAsTable(mode='overwrite') would then silently repoint the first
    index at the second's files."""
    import re

    tail = re.sub(r"\W+", "_", path).strip("_")[-24:]
    return f"{prefix}_{tail}_{hashlib.md5(path.encode()).hexdigest()[:12]}"


def write_index_nonce(spark: SparkSession, path: str) -> str:
    """Crash-atomicity marker for multi-dataset index saves (r4 ADVICE):
    the save protocol is nonce FIRST, data files second, meta (carrying
    the nonce) LAST. A crash anywhere in between leaves the two nonces
    disagreeing, so a load can never silently pair stale metadata (e.g.
    an old bucket spec) with freshly rewritten data files — the failure
    mode of the meta-last-only protocol."""
    nonce = uuid.uuid4().hex
    (spark.createDataFrame([(nonce,)], "nonce string").coalesce(1)
     .write.mode("overwrite").json(os.path.join(path, "nonce")))
    return nonce


def save_index(df: DataFrame, path: str, data: str, meta: tuple,
               meta_schema: str, *, buckets: int | None,
               key: tuple[str, ...], sort: tuple[str, ...],
               extra: dict[str, DataFrame] | None = None) -> None:
    """Save an index under `path`: the nonce, then `df` at path/<data>,
    then each `extra` table at path/<name>, then the meta — `meta`
    (fields per `meta_schema`) plus buckets, table and nonce, as a
    one-row Spark JSON dataset written through the same storage layer as
    the index tables, so save/load works wherever the data does (s3://,
    hdfs://, ...). With `buckets`, `df` is written bucketed on `key` and
    sorted on `sort` as an external table whose catalog name derives
    from `data` and the path."""
    spark = df.sparkSession
    nonce = write_index_nonce(spark, path)
    data_path = os.path.join(path, data)
    name = ""
    if buckets:
        name = _index_table_name(data, path)
        write_bucketed(df, name, data_path, buckets, key, sort)
    else:
        parquet_writer(df).mode("overwrite").parquet(data_path)
    for sub, extra_df in (extra or {}).items():
        parquet_writer(extra_df).mode("overwrite").parquet(
            os.path.join(path, sub))
    (spark.createDataFrame([(*meta, buckets or 0, name, nonce)],
                           f"{meta_schema}, {_INDEX_META_TAIL}")
     .coalesce(1).write.mode("overwrite").json(os.path.join(path, "meta")))


def load_index(spark: SparkSession, path: str, data: str,
               meta_schema: str):
    """Read an index saved by save_index: returns (meta row, table). A
    nonce that disagrees with the meta's means an interrupted save, and
    the load fails loudly instead of reading data files under the wrong
    metadata. A bucketed save is read through its catalog table (zero
    exchange on its key), falling back to the plain parquet files when
    the catalog doesn't know it (fresh session, no shared metastore).
    The table is returned unpersisted: callers select their columns
    first, since unpersisting a projection of a cached table is a no-op
    and would leak the cache."""
    meta = (spark.read.schema(f"{meta_schema}, {_INDEX_META_TAIL}")
            .json(os.path.join(path, "meta")).first())
    try:
        row = spark.read.schema("nonce string").json(
            os.path.join(path, "nonce")).first()
        dir_nonce = row["nonce"] if row else None
    except Exception:
        dir_nonce = None
    if meta["nonce"] != dir_nonce:
        raise ValueError(
            f"index at {path} is from an interrupted save "
            f"(meta nonce {meta['nonce']!r} != data nonce {dir_nonce!r}) — "
            "re-run the save")
    if meta["table"]:
        try:
            return meta, spark.read.table(meta["table"])
        except Exception:
            pass
    return meta, spark.read.parquet(os.path.join(path, data))


def write_bucketed(df: DataFrame, table: str, path: str, buckets: int,
                   key: tuple[str, ...], sort: tuple[str, ...]) -> None:
    """Bucketed external table at `path`, registered as `table`:
    pre-shuffled + pre-sorted on `key`, so repeated joins/aggregations on
    that key run with ZERO exchanges (SortMergeJoin directly over bucket
    files — plan-asserted in tests/test_plans.py). The 100 TB pattern for
    dimension co-location: pay the shuffle once at write time, never
    again per query. Bucket count should match the downstream
    parallelism target (one task per bucket per join)."""
    (parquet_writer(df).bucketBy(buckets, *key).sortBy(*sort)
     .option("path", path).mode("overwrite").saveAsTable(table))
