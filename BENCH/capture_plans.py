"""Capture the optimized logical plan and the formatted physical plan of
gate queries into plans/r06/, normalized so before/after dumps compare
with plain `diff`, and each gate's generated DuckDB oracle SQL next to
its plan, as written (no normalization), so one `diff` covers plans and
oracle text.

Usage: python BENCH/capture_plans.py <suffix> [query ...]
  suffix: file name tail, e.g. 'before' or 'after'
  query:  gate names from queries()/extra_queries(); default: every gate

Writes <gate>_<suffix>.txt (plans) and, for a gate with an oracle in
oracle_sql()/extra_oracle_sql(), <gate>_<suffix>.sql.

Normalization strips expression ids (`#123`), lambda-variable numbering
(`lambda x_12` -> `lambda x`), exchange plan ids, RDD ids and uuid-named
temp dirs, and renumbers `_common_expr_N` aliases by first appearance:
all of these shift from run to run and would otherwise bury a real plan
change. Plans holding Spark's distinct-aggregate rewrite (an Expand with
a `gid` column, e.g. profile_documents) are canonicalized further: its
column order and group ids follow hash-set order, which changes from one
JVM to the next, so the group ids are renumbered by their distinct
columns and every bracketed list (and hashpartitioning's arguments) is
sorted. The repo root is the parent of this script's directory.
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


_COMMON_EXPR = re.compile(r"_common_expr_\d+")
_GID = re.compile(r"\bgid = (\d+)\b")
_HASHPART = re.compile(r"hashpartitioning\(([^()]*)\)")


def _close(s: str, i: int) -> int:
    """Index of the `]` matching the `[` at s[i], or -1."""
    depth = 0
    for j in range(i, len(s)):
        depth += {"[": 1, "]": -1}.get(s[j], 0)
        if depth == 0:
            return j
    return -1


def _items(body: str) -> list[str]:
    """A list body split at its top-level commas."""
    items, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        if ch in "[(":
            depth += 1
        elif ch in "])":
            depth -= 1
        elif ch == "," and depth == 0:
            items.append(body[start:i].strip())
            start = i + 1
    return items + [body[start:].strip()]


def _sort_lists(s: str) -> str:
    """Every bracketed list in `s` with its items sorted, innermost
    first; a line with an unbalanced `[` is left as it is."""
    out, i = [], 0
    while i < len(s):
        j = _close(s, i) if s[i] == "[" else i
        if j < 0:
            return s
        if j == i:
            out.append(s[i])
        else:
            body = _sort_lists(s[i + 1:j])
            out.append("[" + ", ".join(sorted(_items(body))) + "]")
        i = j + 1
    return "".join(out)


def _canonical_gids(plan: str) -> str:
    """Renumber the distinct-aggregate group ids in the order of their
    distinct columns. The Expand's arguments are its projections, then
    its output, where `gid` follows the k group columns; projection
    g > 0 holds group g's columns in those slots, and the physical
    plan's Expand repeats the same `[[...]]` projections."""
    start = plan.index("Expand [[") + len("Expand ")
    end = _close(plan, start)
    out_start = plan.index("[", end)
    k = _items(plan[out_start + 1:_close(plan, out_start)]).index("gid")
    groups = {p[k]: tuple(sorted(x for x in p[:k] if x != "null"))
              for p in (_items(q[1:-1])
                        for q in _items(plan[start + 1:end]))
              if p[k] != "0"}
    new = {g: str(n) for n, g in
           enumerate(sorted(groups, key=groups.__getitem__), 1)}
    new["0"] = "0"
    out, i = [], 0
    while (start := plan.find("[[", i)) >= 0:
        end = _close(plan, start)
        projections = []
        for q in _items(plan[start + 1:end]):
            p = _items(q[1:-1])
            p[k] = new[p[k]]
            projections.append("[" + ", ".join(p) + "]")
        out += [plan[i:start], "[" + ", ".join(projections) + "]"]
        i = end + 1
    plan = "".join(out) + plan[i:]
    return _GID.sub(lambda m: f"gid = {new[m.group(1)]}", plan)


def normalize(plan: str) -> str:
    for pat, repl in _NOISE:
        plan = pat.sub(repl, plan)
    seen: dict[str, str] = {}
    plan = _COMMON_EXPR.sub(lambda m: seen.setdefault(
        m.group(0), f"_common_expr_{len(seen)}"), plan)
    if "Expand [" in plan and _GID.search(plan):
        plan = _canonical_gids(plan)
        plan = _HASHPART.sub(
            lambda m: "hashpartitioning("
            + ", ".join(sorted(_items(m.group(1)))) + ")", plan)
        plan = "\n".join(_sort_lists(line) for line in plan.split("\n"))
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
    oracles = {**entry.oracle_sql(), **entry.extra_oracle_sql()}
    for name in sys.argv[2:] or list(qs):
        df = qs[name](spark, SF_DIR)
        with open(os.path.join(OUT_DIR, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(dump(df))
        if name in oracles:
            with open(os.path.join(OUT_DIR, f"{name}_{suffix}.sql"),
                      "w") as fh:
                fh.write(oracles[name])
        print(f"wrote {name}_{suffix}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
