"""Tracing from outside the program: spans around calls into its public
functions, Spark job groups per span, and an event-log reader.

Spans stay in memory; `Tracer.spans` is read when the traced call ends.
Every span sets its own Spark job group, so the jobs (and, through the
event log, the task metrics and SQL metrics) a call triggers are
attributed to the innermost span open when they ran.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, prefix: str = "span"):
        self.sc = sc
        self.prefix = prefix
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sp = {"id": len(self.spans), "name": name,
              "parent": self._stack[-1]["id"] if self._stack else None,
              "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(self.group(sp), name)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(self.group(top), top["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, name: str, label=None) -> None:
        """Replace owner.attr with a span-recording wrapper until restore().
        `label(args, kwargs)`, when given, names each call's span instead
        of `name`. A missing attribute is skipped: its layer then reads as
        not reached."""
        fn = getattr(owner, attr, None)
        if fn is None:
            return
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            nm = label(args, kwargs) if label else name
            with tracer.span(nm, args=args):
                return fn(*args, **kwargs)

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    # -- reading spans ------------------------------------------------------

    def group(self, sp: dict) -> str:
        """The Spark job group of the span."""
        return f"{self.prefix}-{sp['id']}"

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def groups(self, sp: dict) -> list[str]:
        """Job groups of `sp` and every span under it."""
        return [f"{self.prefix}-{i}" for i in self.subtree(sp)]

    def subtree(self, sp: dict) -> set[int]:
        ids, frontier = {sp["id"]}, [sp["id"]]
        while frontier:
            p = frontier.pop()
            for c in self.spans:
                if c["parent"] == p:
                    ids.add(c["id"])
                    frontier.append(c["id"])
        return ids

    def to_json(self, group_jobs: dict[str, int]) -> list[dict]:
        """The spans, each with the Spark jobs run while it was the
        innermost open span: a public call's own (build-time) jobs, or a
        write's (execute-time) jobs."""
        return [{**{k: v for k, v in s.items() if k != "args"},
                 "jobs": group_jobs.get(self.group(s), 0)}
                for s in self.spans]


def newest_event_log(log_dir: str) -> str | None:
    files = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(p) and not p.endswith(".inprogress")]
    return max(files, key=os.path.getmtime) if files else None


class EventLog:
    """Task metrics and SQL metrics per job group from a finished event
    log (uncompressed, non-rolling)."""

    def __init__(self, path: str):
        self.stage_group: dict[int, str] = {}
        self.exec_group: dict[int, str] = {}
        self.group_jobs: dict[str, int] = defaultdict(int)
        self.job_group: dict[int, str] = {}
        self.job_span: dict[int, list[float]] = {}  # job id -> [start, end]
        self.task = defaultdict(lambda: defaultdict(float))
        self.plans: dict[int, dict] = {}      # exec id -> latest plan info
        self.acc = defaultdict(float)          # accumulator id -> value
        sql = "org.apache.spark.sql.execution.ui."
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e.get("Event", "")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or ""
                    self.group_jobs[g] += 1
                    self.job_group[e["Job ID"]] = g
                    self.job_span[e["Job ID"]] = [
                        e.get("Submission Time", 0) / 1e3, None]
                    for sid in e.get("Stage IDs", []):
                        self.stage_group[sid] = g
                    xid = props.get("spark.sql.execution.id")
                    if xid is not None:
                        self.exec_group.setdefault(int(xid), g)
                elif ev == "SparkListenerJobEnd":
                    span = self.job_span.get(e["Job ID"])
                    if span:
                        span[1] = e.get("Completion Time", 0) / 1e3
                elif ev == "SparkListenerTaskEnd":
                    self._task_end(e)
                elif ev in (sql + "SparkListenerSQLExecutionStart",
                            sql + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    xid = int(e["executionId"])
                    self.plans[xid] = e["sparkPlanInfo"]
                elif ev == sql + "SparkListenerDriverAccumUpdates":
                    for acc_id, val in e.get("accumUpdates", []):
                        self.acc[int(acc_id)] += float(val)

    def _task_end(self, e: dict) -> None:
        g = self.stage_group.get(e.get("Stage ID"), "")
        ti = e.get("Task Info") or {}
        m = e.get("Task Metrics") or {}
        t = self.task[g]
        t["task_s"] += m.get("Executor Run Time", 0) / 1e3
        t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        t["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
        t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics")
                                     or {}).get("Shuffle Bytes Written", 0)
        for a in ti.get("Accumulables", []):
            upd = a.get("Update")
            if isinstance(upd, (int, float)) or (
                    isinstance(upd, str) and upd.lstrip("-").isdigit()):
                self.acc[int(a["ID"])] += float(upd)

    def task_sum(self, groups, key: str) -> float:
        return sum(self.task[g][key] for g in groups)

    def jobs(self, groups) -> int:
        return sum(self.group_jobs[g] for g in groups)

    def job_s(self, groups) -> float:
        """Seconds during which a job of `groups` ran (submission to
        completion, overlapping jobs counted once), as the engine records
        it, independent of the spans' own clocks."""
        gs = set(groups)
        iv = sorted(tuple(self.job_span[j]) for j, g in self.job_group.items()
                    if g in gs and self.job_span[j][1] is not None)
        total, end = 0.0, float("-inf")
        for s, e in iv:
            total += max(0.0, e - max(s, end))
            end = max(end, e)
        return total

    def executions(self, groups) -> list[int]:
        gs = set(groups)
        return sorted(x for x, g in self.exec_group.items() if g in gs)

    def nodes(self, groups):
        """Every node of the final plans of the SQL executions run under
        `groups`."""
        for xid in self.executions(groups):
            stack = [self.plans.get(xid)]
            while stack:
                node = stack.pop()
                if node:
                    yield node
                    stack.extend(node.get("children", []))

    def metric(self, nodes, needle: str) -> float:
        """Sum of the SQL metrics whose name contains `needle` over `nodes`,
        each accumulator once (a reused exchange repeats its subtree)."""
        ids = {int(m["accumulatorId"]) for n in nodes
               for m in n.get("metrics", []) if needle in m["name"]}
        return sum(self.acc.get(i, 0.0) for i in ids)

    def scan_bytes(self, groups) -> float:
        """`size of files read` over the file scans run under `groups`."""
        return self.metric([n for n in self.nodes(groups)
                            if n.get("nodeName", "").startswith("Scan ")],
                           "size of files read")
