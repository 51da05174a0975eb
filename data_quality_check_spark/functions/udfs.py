"""Iterator-form pandas UDFs wrapping the numpy models.

Pattern (north rule: "model broadcast per executor, zero per-row Python"):
the trained model dict (plain numpy arrays) is broadcast once per job; the
iterator-form UDF dereferences the broadcast ONCE per task, then scores each
Arrow batch with pure-numpy batch math (models/hashing.py). This replaces
the reference's per-request descriptor-pool rebuild
(/root/reference/data-quality-server/src/handlers.rs:113-123) with Spark's
broadcast-once model.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

from ..models import langid as langid_model
from ..models import ngram as ngram_model
from ..models import quality as quality_model
from ..models.scoring import score_batch
from ..schema import SCORES_TYPE


def broadcast_models(spark: SparkSession):
    """Train the models and broadcast them once for the job."""
    return spark.sparkContext.broadcast({
        "langid": langid_model.train(),
        "lm": ngram_model.train(),
        "quality": quality_model.train(),
    })


def make_scores_udf(bc, *, timed: bool = False):
    """pandas UDF text -> struct<lang,lang_conf,ppl>, one hashing pass setup
    per task (iterator form), numpy math per batch.

    timed=True appends `batch_us` — the wall-clock microseconds the row's
    Arrow batch spent in the fused scoring pass (the reference's
    validate_json_duration_seconds at Spark's request grain, the batch;
    metrics.rs:22-25). Score values are bit-identical either way."""
    import time

    from pyspark.sql import types as T

    schema = (T.StructType(list(SCORES_TYPE.fields)
                           + [T.StructField("batch_us", T.LongType())])
              if timed else SCORES_TYPE)

    @pandas_udf(schema)
    def scores(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        models = bc.value  # once per task
        m_lang = models["langid"]
        m_lm = models["lm"]
        for s in batches:
            t0 = time.perf_counter()
            lang, conf, ppl = score_batch(s.tolist(), m_lang, m_lm)
            row = {"lang": lang, "lang_conf": conf, "ppl": ppl}
            if timed:
                row["batch_us"] = int((time.perf_counter() - t0) * 1e6)
            yield pd.DataFrame(row)

    return scores


def make_quality_udf(bc):
    """pandas UDF text -> double: learned quality probability in [0, 1]
    (models/quality.py). Same broadcast-once / iterator-form / pure-numpy
    discipline as the langid+ppl scorer; scores are bit-identical across
    batch geometry (per-text-contiguous float64 reductions)."""

    @pandas_udf("double")
    def qscore(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        m = bc.value["quality"]  # once per task
        for s in batches:
            yield pd.Series(quality_model.score(s.tolist(), m))

    return qscore
