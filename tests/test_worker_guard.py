"""The worker-side zip re-read guard (functions/udfs.guard_zip_rereads):
an unchanged zip on sys.path is not re-read by importlib.invalidate_caches(),
a rewritten one is re-read exactly once, and a Spark Python worker that
installed the guard still imports from pyspark.zip."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

_ZIP_SCRIPT = r"""
import importlib, json, sys, zipfile, zipimport

archive = sys.argv[1]
with zipfile.ZipFile(archive, "w") as zf:
    zf.writestr("zguard_a.py", "A = 1\n")
sys.path.insert(0, archive)
import zguard_a

reads = []
read_directory = zipimport._read_directory

def counted(path):
    if path == archive:
        reads.append(path)
    return read_directory(path)

zipimport._read_directory = counted

def rereads(fn):
    n = len(reads)
    fn()
    return len(reads) - n

def invalidate(times):
    return lambda: [importlib.invalidate_caches() for _ in range(times)]

out = {"unguarded": rereads(invalidate(3))}
from data_quality_check_spark.functions.udfs import guard_zip_rereads
guard_zip_rereads()
guard_zip_rereads()
out["first"] = rereads(invalidate(1))
out["unchanged"] = rereads(invalidate(5))
with zipfile.ZipFile(archive, "w") as zf:
    zf.writestr("zguard_a.py", "A = 1\n")
    zf.writestr("zguard_b.py", "B = 2\n")

def rewritten():
    invalidate(3)()
    import zguard_b
    out["b"] = zguard_b.B

out["rewritten"] = rereads(rewritten)
print(json.dumps(out))
"""


def test_guard_rereads_only_a_changed_zip(tmp_path):
    """Run in a subprocess so this process's zipimporter stays unpatched.
    The counter sees the eager re-reads of an unguarded CPython < 3.13
    (3.13 re-reads lazily, on the next lookup)."""
    env = {**os.environ, "PYTHONPATH": str(REPO)}
    res = subprocess.run(
        [sys.executable, "-c", _ZIP_SCRIPT, str(tmp_path / "mods.zip")],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr
    got = json.loads(res.stdout.strip().splitlines()[-1])
    eager = sys.version_info < (3, 13)
    assert got["unguarded"] == (3 if eager else 0)
    assert got["first"] == (1 if eager else 0)
    assert got["unchanged"] == 0
    assert got["rewritten"] == 1
    assert got["b"] == 2


def test_guard_installed_in_spark_worker(spark):
    """Inside mapInPandas: the guard installs, a guarded
    invalidate_caches() keeps the worker's importers valid, and a pyspark
    submodule no task imported yet still imports from pyspark.zip."""
    import pandas as pd

    def probe(batches):
        import importlib
        import zipimport

        from data_quality_check_spark.functions.udfs import (
            guard_zip_rereads,
        )

        guard_zip_rereads()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        fresh = [m for m in ("pyspark.sql.avro.functions",
                             "pyspark.sql.protobuf.functions",
                             "pyspark.mllib.common")
                 if m not in sys.modules]
        mod = importlib.import_module(fresh[0]) if fresh else None
        stamps = getattr(zipimport.zipimporter.invalidate_caches,
                         "stamps", None)
        for _ in batches:
            pass
        yield pd.DataFrame({
            "installed": [stamps is not None],
            "archives": [json.dumps(sorted(stamps or {}))],
            "module": [getattr(mod, "__file__", None) or ""],
        })

    rows = (spark.range(0, 8, numPartitions=4)
            .mapInPandas(probe, "installed boolean, archives string, "
                                "module string")
            .collect())
    assert len(rows) == 4
    assert all(r["installed"] for r in rows)
    assert all(r["module"] for r in rows)
    if sys.version_info < (3, 13):
        assert all(any(a.endswith("pyspark.zip")
                       for a in json.loads(r["archives"])) for r in rows)
        assert all("pyspark.zip" in r["module"] for r in rows)
