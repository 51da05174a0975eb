"""CLI smoke test: the spark-submit batch entry end-to-end in-process."""

from __future__ import annotations

import json


def test_cli_runs_and_resumes(spark, tmp_path, capsys):
    from data_quality_check_spark import cli

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    rows = [("c1", i, "user", f"turn {i} with plain ordinary words", None,
             None) for i in range(30)]
    (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
     .repartition(3).write.parquet(src))

    # build_session getOrCreate() reuses the test session — fine for smoke
    rc = cli.main(["--input", src, "--output", out, "--no-models",
                   "--files-per-chunk", "2"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["output_turns"] == 30
    assert rep["chunks_run"] == 2

    rc = cli.main(["--input", src, "--output", out, "--no-models"])
    assert rc == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["chunks_run"] == 0
    assert rep2["chunks_skipped"] == 3
    assert rep2["output_turns"] == 30


def test_cli_resume_broadcasts_no_models(spark, tmp_path, capsys,
                                         monkeypatch):
    """The models are broadcast once, by run_job, and only while a chunk
    is left: a resume of a fully committed output trains none."""
    from data_quality_check_spark import cli
    from data_quality_check_spark.functions import udfs

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    rows = [("c1", i, "user", f"turn {i} with plain ordinary words", None,
             None) for i in range(12)]
    (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
     .repartition(2).write.parquet(src))
    calls = []
    real = udfs.broadcast_models

    def counted(s):
        calls.append(1)
        return real(s)

    monkeypatch.setattr(udfs, "broadcast_models", counted)
    assert cli.main(["--input", src, "--output", out]) == 0
    assert len(calls) == 1
    assert cli.main(["--input", src, "--output", out]) == 0
    assert len(calls) == 1
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (rep["chunks_run"], rep["output_turns"]) == (0, 12)


def test_cli_curate_mode(spark, tmp_path, capsys):
    """curate mode: documents parquet in → curated parquet out, with
    quality filter + span dedup + domain caps + shard packing wired
    through the public curation API."""
    import json

    from pyspark.sql import functions as F

    from data_quality_check_spark import cli

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "docs")
    docs.withColumn(
        "url", F.concat(F.lit("https://h"), F.col("doc_id") % 3,
                        F.lit(".com/p"))).write.parquet(src)
    out = str(tmp_path / "curated")
    rc = cli.main(["--mode", "curate", "--input", src, "--output", out,
                   "--domain-cap", "50", "--blocklist", "h0.com",
                   "--budget", "4096"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["kept_docs"] > 0
    cur = spark.read.parquet(out)
    assert {"doc_id", "shard_id", "n_tokens", "host"} <= set(cur.columns)
    hosts = {r["host"] for r in cur.select("host").distinct().collect()}
    assert "h0.com" not in hosts
    caps = cur.groupBy("host").count().collect()
    assert all(r["count"] <= 50 for r in caps)


def test_curate_quality_model_stage(spark, bc_models):
    """curate_corpus's learned-quality stage flag: junk docs are dropped
    at the classifier threshold, natural docs survive, and the stage
    composes with the rest of the chain."""
    from pyspark.sql import functions as F

    from data_quality_check_spark.plans import curation

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    junk = ("$$$ click here buy now !!! free offer ### subscribe to win "
            "@@@ prize promo code save big deal")
    fx = docs.withColumn(
        "text", F.when(F.col("doc_id") % 19 == 0, F.lit(junk))
        .otherwise(F.col("text")))
    base = curation.curate_corpus(fx, span_dedup=False)
    gated = curation.curate_corpus(fx, span_dedup=False,
                                   quality_model_bc=bc_models)
    base_ids = {r["doc_id"] for r in base.select("doc_id").collect()}
    kept = {r["doc_id"] for r in gated.select("doc_id").collect()}
    dropped = base_ids - kept
    assert dropped, "quality stage dropped nothing"
    # exactly the injected junk docs (that survived the heuristics) go
    assert all(d % 19 == 0 for d in dropped)
    assert all(d % 19 != 0 for d in kept)
