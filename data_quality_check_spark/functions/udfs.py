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

import os
import sys
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

from ..models import langid as langid_model
from ..models import ngram as ngram_model
from ..models import quality as quality_model
from ..models.scoring import score_batch
from ..schema import SCORES_TYPE


def guard_zip_rereads() -> None:
    """Make `importlib.invalidate_caches()` re-read a zip archive's
    directory only when the archive changed, for the rest of this Python
    worker's life.

    Every Python task starts in `worker_util.setup_spark_files`, which
    ends in `importlib.invalidate_caches()`. Before CPython 3.13,
    `zipimporter.invalidate_caches` re-reads its archive's whole central
    directory on the spot, and a worker holds 16 importers on
    pyspark.zip (1,328 entries): 0.13-0.19 s of every task in a reused
    worker. The guard re-reads an archive only when its
    (st_mtime_ns, st_size) differs from the stamp of its last re-read —
    the staleness contract of FileFinder — and otherwise points the
    importer at the shared `_zip_directory_cache` entry, so a rewritten
    zip (a new --py-files upload) is still re-read. 3.13 made the re-read
    lazy, so there this does nothing.

    Call it first in every function the package ships to a Python
    worker: the first call patches, every later one returns at once.
    Workers are reused, so only a worker's first tasks pay the re-read."""
    if sys.version_info >= (3, 13):
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if hasattr(reread, "stamps"):
        return
    stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            stamps.pop(self.archive, None)
        else:
            stamp = (st.st_mtime_ns, st.st_size)
            files = zipimport._zip_directory_cache.get(self.archive)
            if files is not None and stamps.get(self.archive) == stamp:
                self._files = files
                return
            # stamped BEFORE the read: a rewrite racing it leaves a stale
            # stamp, which only costs one more re-read
            stamps[self.archive] = stamp
        reread(self)

    invalidate_caches.stamps = stamps
    zipimport.zipimporter.invalidate_caches = invalidate_caches


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
        guard_zip_rereads()
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
        guard_zip_rereads()
        m = bc.value["quality"]  # once per task
        for s in batches:
            yield pd.Series(quality_model.score(s.tolist(), m))

    return qscore
