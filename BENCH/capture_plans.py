"""Capture the optimized logical plan and the formatted physical plan of
gate queries into plans/r06/, normalized so before/after dumps compare
with plain `diff`.

Usage: python BENCH/capture_plans.py <suffix> [query ...]
  suffix: file name tail, e.g. 'before' or 'after'
  query:  gate names from queries()/extra_queries(); default: every gate

Normalization strips expression ids (`#123`), lambda-variable numbering
(`lambda x_12` -> `lambda x`), exchange plan ids, RDD ids and uuid-named
temp dirs, which shift from run to run and would otherwise bury a real
plan change. The repo root is the parent of this script's directory.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(REPO, "plans", "r06")

_NOISE = [
    (re.compile(r"#\d+"), ""),
    (re.compile(r"\blambda (\w+?)_\d+\b"), r"lambda \1"),
    (re.compile(r"plan_id=\d+"), "plan_id"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"/[0-9a-f]{8}\b"), "/<hex>"),  # uuid-named temp dirs
]


def normalize(plan: str) -> str:
    for pat, repl in _NOISE:
        plan = pat.sub(repl, plan)
    return plan


def dump(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    return normalize("== Optimized Logical Plan ==\n" + optimized
                     + "\n" + buf.getvalue())


def main() -> None:
    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    suffix = sys.argv[1]
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("dqcs-capture-plans")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT_DIR, exist_ok=True)
    qs = {**entry.queries(), **entry.extra_queries()}
    for name in sys.argv[2:] or list(qs):
        df = qs[name](spark, SF_DIR)
        with open(os.path.join(OUT_DIR, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(dump(df))
        print(f"wrote {name}_{suffix}.txt", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
