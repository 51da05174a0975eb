"""ANN recall-vs-cost sweep: recall@1 of the LSH / IVF approximate paths
against exact brute-force truth, with wall time per setting.

Usage: python BENCH/ann_recall.py [sf_dir] [cpus]
  cpus: Spark local threads; default: the CPUs this process may run on.
Appends a markdown table to stdout; paste into BENCH/BASELINE.md.
The repo root is the parent of this script's directory.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cpus = (sys.argv[2] if len(sys.argv) > 2
            else str(len(os.sched_getaffinity(0))))

    from pyspark.sql import SparkSession

    from data_quality_check_spark.operators import similarity

    # Spark's Python workers inherit the JVM's environment, not this
    # sys.path: without this they import the package from the working
    # directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding").cache()
    n = emb.count()

    pdf = emb.toPandas()
    ids = pdf["vec_id"].to_numpy()
    mat = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    sims = mat @ mat.T
    np.fill_diagonal(sims, -np.inf)
    best = np.lexsort((ids[None, :].repeat(len(ids), 0), -sims), axis=1)[:, 0]
    truth = {int(i): int(ids[b]) for i, b in zip(ids, best)}

    def recall(df) -> tuple[float, int]:
        got = {r["vec_id"]: r["neighbor_id"] for r in df.collect()}
        hits = sum(1 for q, t in truth.items() if got.get(q) == t)
        return hits / len(truth), len(got)

    rows = []
    for nprobe in (1, 2, 4, 8):
        t0 = time.time()
        r, _ = recall(similarity.ivf_topk(emb, k=1, nprobe=nprobe))
        rows.append(("IVF", f"nprobe={nprobe}", r, time.time() - t0))
    for tables in (2, 4, 8, 16):
        t0 = time.time()
        r, _ = recall(similarity.lsh_topk(emb, k=1, tables=tables))
        rows.append(("LSH", f"tables={tables}", r, time.time() - t0))

    print(f"\n## ANN recall sweep ({sf_dir}, {n} vecs, local[{cpus}], "
          "int8 posting)\n")
    print("| path | parameter | recall@1 | sec |")
    print("|---|---|---|---|")
    for path, param, r, dt in rows:
        print(f"| {path} | {param} | {r:.3f} | {dt:.1f} |")
    spark.stop()


if __name__ == "__main__":
    main()
