"""Extra benchmarks (guide §1.4): per-gate noop-sink isolation with the
plan-construction phase timed SEPARATELY from execution, so compile-bound
cells (big generated expression trees) are distinguishable from
execution-bound ones. Does NOT replace bench.py (frozen driver contract).

Usage:
  python bench_extra.py [query ...]          # default: all gates
  BENCH_X_REPS=2 python bench_extra.py       # best-of-N execution

Emits one JSON line per gate:
  {"name": ..., "build_s": plan-construction wall (query fn call),
   "first_s": first noop execution (includes analysis+codegen),
   "best_s": best of the remaining reps (warm execution),
   "jobs": Spark jobs triggered during build (eager checkpoints etc.)}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("BENCH_X_REPS", "2"))


def build_spark():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName(f"dqcs-bench-extra-{CPUS}")
        .config("spark.sql.shuffle.partitions", str(max(CPUS, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def main() -> None:
    import __spark_entry__ as entry

    spark = build_spark()
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    qs = {**entry.queries(), **entry.extra_queries()}
    wanted = sys.argv[1:] or list(qs)
    for name in wanted:
        fn = qs[name]
        group = f"bench_extra:{name}"
        sc.setJobGroup(group, group)
        t0 = time.time()
        df = fn(spark, SF_DIR)
        build_s = time.time() - t0
        jobs = len(tracker.getJobIdsForGroup(group))
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        first_s = time.time() - t0
        best = None
        for _ in range(max(0, REPS - 1)):
            df = fn(spark, SF_DIR)
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            el = time.time() - t0
            best = el if best is None else min(best, el)
        print(json.dumps({
            "name": name,
            "build_s": round(build_s, 3),
            "first_s": round(first_s, 3),
            "best_s": round(best if best is not None else first_s, 3),
            "jobs": jobs,
        }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
