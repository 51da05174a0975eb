"""Committed output is zstd Parquet: every Parquet file the package writes
reports ZSTD in every column chunk, the session's default codec is left
as it was, and no module writes Parquet except through `io.parquet_writer`
/ `io.parquet_stream_writer` (an ast scan of the package)."""

from __future__ import annotations

import ast
import glob
import os
from pathlib import Path

import pytest
from conftest import SF_TINY as SF
from pyspark.sql import functions as F

from data_quality_check_spark import io as dq_io

PKG = Path(__file__).resolve().parents[1] / "data_quality_check_spark"
SESSION_CODEC = "spark.sql.parquet.compression.codec"


def parquet_codecs(path: str) -> set[str]:
    """Codec of every column chunk of every Parquet file under `path`."""
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    assert files, f"no parquet files under {path}"
    codecs = set()
    for f in files:
        md = pq.ParquetFile(f).metadata
        codecs |= {md.row_group(g).column(c).compression
                   for g in range(md.num_row_groups)
                   for c in range(md.num_columns)}
    assert codecs, f"no column chunks under {path}"
    return codecs


@pytest.fixture()
def session_codec(spark):
    """The session's Parquet codec before the test; asserted unchanged
    after it."""
    before = spark.conf.get(SESSION_CODEC)
    yield before
    assert spark.conf.get(SESSION_CODEC) == before


@pytest.fixture(scope="module")
def turns_src(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("codec") / "src")
    rows = [(f"c{i % 5}", i // 5, ["user", "assistant"][i % 2],
             f"turn number {i} with some ordinary words here", None, None)
            for i in range(60)]
    (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
     .repartition(4).write.parquet(p))
    return p


def test_run_job_tables_are_zstd(spark, tmp_path, turns_src, bc_models,
                                 session_codec):
    out = str(tmp_path / "out")
    dq_io.run_job(spark, turns_src, out, bc_models=bc_models,
                  files_per_chunk=2, measure_latency=True)
    assert len(dq_io.read_manifest(out)) == 2
    for sub in ("turns", "metrics", "latency"):
        assert parquet_codecs(os.path.join(out, sub)) == {"ZSTD"}, sub
        assert glob.glob(os.path.join(out, sub, "*", "*.zstd.parquet"))
    assert spark.conf.get(SESSION_CODEC) == session_codec


def test_cli_curate_output_is_zstd(spark, tmp_path, capsys, session_codec):
    from data_quality_check_spark import cli

    src = str(tmp_path / "docs")
    (spark.read.parquet(f"{SF}/documents.parquet")
     .withColumn("url", F.concat(F.lit("https://h"), F.col("doc_id") % 3,
                                 F.lit(".com/p")))
     .write.parquet(src))
    out = str(tmp_path / "curated")
    assert cli.main(["--mode", "curate", "--input", src, "--output", out,
                     "--budget", "4096"]) == 0
    capsys.readouterr()
    assert parquet_codecs(out) == {"ZSTD"}
    assert spark.conf.get(SESSION_CODEC) == session_codec


@pytest.mark.parametrize("buckets", [None, 4], ids=["plain", "bucketed"])
def test_index_saves_are_zstd(spark, tmp_path, buckets, session_codec):
    from data_quality_check_spark.operators import dedup, similarity

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    mh = dedup.minhash_build(docs)
    dedup.minhash_save(mh, str(tmp_path / "mh"), buckets=buckets)
    mh.sigs.unpersist()
    assert parquet_codecs(str(tmp_path / "mh" / "sigs")) == {"ZSTD"}
    assert spark.conf.get(SESSION_CODEC) == session_codec

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    ivf = similarity.ivf_build(emb, n_cells=8, iters=0, init="by_id")
    similarity.ivf_save(ivf, str(tmp_path / "ivf"), buckets=buckets)
    ivf.posted.unpersist()
    for sub in ("posting", "centroids"):
        assert parquet_codecs(str(tmp_path / "ivf" / sub)) == {"ZSTD"}, sub
    assert spark.conf.get(SESSION_CODEC) == session_codec


def test_streaming_sinks_are_zstd(spark, tmp_path, turns_src,
                                  session_codec):
    from data_quality_check_spark.operators import dedup
    from data_quality_check_spark.streaming import stream as dqs

    out, ck = str(tmp_path / "labeled"), str(tmp_path / "ck")
    lab = dqs.label_stream(dqs.read_transcript_stream(spark, turns_src))
    q = dqs.start_parquet_sink(lab, out, ck, available_now=True)
    q.awaitTermination(120)
    q.stop()
    assert parquet_codecs(out) == {"ZSTD"}
    assert spark.conf.get(SESSION_CODEC) == session_codec

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    src = str(tmp_path / "docs")
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(src)
    index = dedup.minhash_build(docs.filter(F.col("doc_id") % 2 == 0))
    pairs = str(tmp_path / "pairs")
    q = dqs.incremental_dedup_stream(
        spark.readStream.schema(docs.schema).parquet(src), index, pairs,
        str(tmp_path / "ck2"))
    q.awaitTermination(120)
    q.stop()
    index.sigs.unpersist()
    assert spark.read.parquet(pairs).count() > 0
    assert parquet_codecs(pairs) == {"ZSTD"}
    assert spark.conf.get(SESSION_CODEC) == session_codec


# ---------------------------------------------------------------------------
# write-path guard
# ---------------------------------------------------------------------------

HELPERS = {"parquet_writer", "parquet_stream_writer"}
# terminal calls that write the writer's format (Spark's default source,
# spark.sql.sources.default, is parquet) unless the chain names another
SINKS = {"save", "saveAsTable", "insertInto", "start"}
ROLES = {"read", "readStream", "write", "writeStream"} | HELPERS


def _chain(call: ast.Call) -> list[tuple[str, ast.Call | None]]:
    """(name, call) of every link of a method chain, from the outermost
    call down to its base name; `call` is None for a bare attribute."""
    out, node, pending = [], call, None
    while True:
        if isinstance(node, ast.Call):
            pending, node = node, node.func
        elif isinstance(node, ast.Attribute):
            out.append((node.attr, pending))
            pending, node = None, node.value
        else:
            if isinstance(node, ast.Name):
                out.append((node.id, pending))
            return out


def _format_arg(call: ast.Call) -> str | None:
    arg = call.args[0] if call.args else None
    return arg.value if isinstance(arg, ast.Constant) else None


def parquet_writes_outside_helper(source: str) -> list[int]:
    """Line numbers of the Parquet writes in `source` that do not go
    through a helper: `.parquet(`, `format("parquet")`, or a save/
    saveAsTable/insertInto/start on a `.write`/`.writeStream` chain that
    names no other format. Reader chains (`.read`, `.readStream`) and
    the helpers' own bodies are skipped."""
    tree = ast.parse(source)
    skip = {id(n) for f in ast.walk(tree)
            if isinstance(f, ast.FunctionDef) and f.name in HELPERS
            for n in ast.walk(f)}
    bad = set()
    for call in ast.walk(tree):
        if (not isinstance(call, ast.Call) or id(call) in skip
                or not isinstance(call.func, ast.Attribute)):
            continue
        chain = _chain(call)
        # the link nearest the call decides: `spark.read.parquet(p)
        # .write.parquet(q)` is a writer chain
        role = next((n for n, _ in chain if n in ROLES), None)
        if role not in ("write", "writeStream", None):
            continue
        names = {n for n, _ in chain}
        formats = {_format_arg(c) for n, c in chain if n == "format" and c}
        method = call.func.attr
        if (method == "parquet"
                or (method == "format" and _format_arg(call) == "parquet")
                or (method in SINKS and role
                    and not names & {"foreachBatch", "foreach"}
                    and formats <= {None, "parquet"})):
            bad.add(call.lineno)
    return sorted(bad)


@pytest.mark.parametrize("snippet", [
    'df.write.mode("overwrite").parquet(p)',
    'w = df.write.mode("overwrite")\nw.parquet(p)',
    'df.write.bucketBy(4, "k").format("parquet").saveAsTable(t)',
    'df.write.bucketBy(4, "k").saveAsTable(t)',
    'df.write.option("path", p).save()',
    'df.writeStream.format("parquet").option("path", p).start()',
    'df.writeStream.option("path", p).start()',
    'spark.read.parquet(p).write.parquet(q)',
])
def test_guard_flags_direct_parquet_writes(snippet):
    assert parquet_writes_outside_helper(snippet)


@pytest.mark.parametrize("snippet", [
    'io.parquet_writer(df).mode("overwrite").parquet(p)',
    'parquet_writer(df).bucketBy(4, "k").saveAsTable(t)',
    'parquet_stream_writer(df).option("path", p).start()',
    'spark.read.parquet(p)',
    'spark.readStream.schema(s).parquet(p)',
    'df.write.mode("overwrite").json(p)',
    'df.write.mode("overwrite").text(p)',
    'df.writeStream.foreachBatch(f).start()',
    'df.write.format("json").save(p)',
    'parquet_writer(spark.read.parquet(p)).parquet(q)',
])
def test_guard_passes_helper_reads_and_other_formats(snippet):
    assert parquet_writes_outside_helper(snippet) == []


def test_package_writes_parquet_only_through_the_helper():
    offenders = {}
    for path in sorted(PKG.rglob("*.py")):
        lines = parquet_writes_outside_helper(path.read_text())
        if lines:
            offenders[str(path.relative_to(PKG.parent))] = lines
    assert offenders == {}, (
        "Parquet written outside io.parquet_writer/parquet_stream_writer: "
        f"{offenders}")
