"""Repo benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload label_job --seed 1 --seconds 10 \
        --trace 0

Run from the root of a checkout. The run builds (or reuses) the seeded
input under .bench_build/perfbench/, creates one local[nproc] Spark session,
sets up twice (JVM launch, session, broadcast_models; the JVM is stopped
in between), warms the workload up, then repeats it for at least
--seconds and the workload's minimum call count, checking every call's
output against the generator's expected answer. --trace 0 reports the
end-to-end metrics (medians over the set-ups and the warm calls). --trace
1 sets up once and measures only for --seconds, then makes one call with
spans around the program's public functions plus plan cuts, then the same
for every other workload, and reports the per-layer metrics instead.
Progress and host context go to stderr; the last stdout line is the
result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T0 = time.perf_counter()
# Set-ups per run, each with its own JVM. One on a live JVM is dominated by
# py4j round trips, whose latency on a VM shifts from process to process.
SETUP_REPS = 2

END_TO_END = {"setup_s": "s", "wall_s": "s", "rows_per_s": "1/s",
              "cpu_s": "s", "peak_rss_mb": "MB", "output_mb": "MB"}


def log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - T0:6.1f}s {msg}",
          file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# host and process-tree readings from /proc
# ---------------------------------------------------------------------------

def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_context(stat0: list[int], stat1: list[int], own_cpu_s: float,
                 ) -> dict:
    """nproc, load average, and between two /proc/stat readings the steal
    share and the CPU seconds the box spent outside this process tree, so
    a stolen or shared window shows in the record."""
    d = [b - a for a, b in zip(stat0, stat1)]
    total = sum(d[:8]) or 1
    busy = total - d[3] - d[4]              # minus idle and iowait
    return {"nproc": len(os.sched_getaffinity(0)),
            "loadavg": os.getloadavg(),
            "steal_share": d[7] / total,
            "other_cpu_s": busy / ProcTree.TICK - own_cpu_s,
            "mem_total_mb": mem_total_bytes() / 1e6}


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


class ProcTree:
    """CPU seconds and resident memory of this process and every process
    under it (the JVM, the Python daemon and its workers)."""

    TICK = os.sysconf("SC_CLK_TCK")

    def __init__(self, root: int):
        self.root = root

    def _stats(self) -> dict[int, list[str]]:
        out = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as fh:
                    s = fh.read()
            except OSError:
                continue
            # fields after the parenthesised command name
            out[int(p)] = s[s.rindex(")") + 2:].split()
        return out

    def _tree(self, stats) -> list[int]:
        kids: dict[int, list[int]] = {}
        for pid, f in stats.items():
            kids.setdefault(int(f[1]), []).append(pid)
        todo, tree = [self.root], []
        while todo:
            pid = todo.pop()
            if pid in stats:
                tree.append(pid)
            todo.extend(kids.get(pid, []))
        return tree

    def descendants(self) -> list[int]:
        return [p for p in self._tree(self._stats()) if p != self.root]

    def cpu_s(self) -> float:
        # utime + stime + reaped children's cutime + cstime
        stats = self._stats()
        return sum(sum(int(x) for x in stats[p][11:15])
                   for p in self._tree(stats)) / self.TICK

    def pss_bytes(self) -> int:
        """Proportional set size: a page shared by n processes counts 1/n
        in each, so forked workers and short-lived children of the JVM
        (which share its pages) do not count it twice."""
        total = 0
        for pid in self._tree(self._stats()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total


class PeakRss:
    """Samples the tree's proportional resident memory every 200 ms while
    open."""

    def __init__(self, tree: ProcTree):
        self.tree, self.peak = tree, 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while True:
            self.peak = max(self.peak, self.tree.pss_bytes())
            if self._stop.wait(0.2):
                return

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)
        return False


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def session_builder(work: str, event_dir: str | None):
    """local[nproc], 4 shuffle partitions per task slot (the default 200
    is sized for clusters), a fixed-size driver heap of an eighth of
    MemTotal (1 to 1.5 GiB), every scratch path inside the checkout."""
    from pyspark.sql import SparkSession

    nproc = len(os.sched_getaffinity(0))
    mem_mb = max(1024, min(1536, mem_total_bytes() // 8 // 2**20))
    tmp = os.path.join(work, "tmp")
    b = (SparkSession.builder.master(f"local[{nproc}]")
         .appName("perfbench")
         .config("spark.driver.memory", f"{mem_mb}m")
         .config("spark.sql.shuffle.partitions", str(4 * nproc))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", tmp)
         .config("spark.driver.extraJavaOptions", f"-Xms{mem_mb}m")
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true"))
    if event_dir:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    return b


def stop_jvm(tree: ProcTree, timeout: float = 60) -> None:
    """End the JVM the sessions ran on (it exits when its stdin closes)
    and wait until it and every process it started (the Python daemon and
    its workers) have ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    pids = tree.descendants()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=timeout)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = []
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] != "Z":
                        alive.append(pid)
            except OSError:
                pass
        if not alive:
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes {alive} still running")


def set_up(builder):
    """One set-up as a user pays it: session start (with the JVM launch
    when none is running) plus broadcast_models."""
    from data_quality_check_spark.functions.udfs import broadcast_models

    t0 = time.perf_counter()
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    broadcast_models(spark)
    return spark, time.perf_counter() - t0


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Run:
    def __init__(self, wl, spark, tree: ProcTree):
        self.wl, self.spark, self.tree = wl, spark, tree
        self.attempted = self.failed = 0
        self.calls: list[dict] = []

    def once(self, wl=None, call=None) -> dict:
        """One timed call plus its (untimed) output check."""
        wl = wl or self.wl
        call = call or wl.call
        self.attempted += 1
        problems: list[str] = []
        with PeakRss(self.tree) as rss:
            cpu0 = self.tree.cpu_s()
            t0 = time.perf_counter()
            try:
                call(self.spark)
            except Exception:
                problems.append(traceback.format_exc())
            wall = time.perf_counter() - t0
            cpu = self.tree.cpu_s() - cpu0
        if not problems:
            try:
                problems = wl.check()
            except Exception:
                problems.append(traceback.format_exc())
        if problems:
            self.failed += 1
            log(f"{wl.name} call {self.attempted} FAILED: "
                + "; ".join(problems))
        rec = {"wall_s": wall, "cpu_s": cpu, "peak_rss_mb": rss.peak / 1e6,
               "output_mb": wl.output_bytes() / 1e6, "ok": not problems}
        log(f"{wl.name} call {self.attempted}: " + ", ".join(
            f"{k}={v:.3f}" for k, v in rec.items() if k != "ok"))
        return rec

    def loop(self, seconds: float, min_calls: int) -> None:
        t_end = time.perf_counter() + seconds
        while len(self.calls) < min_calls or time.perf_counter() < t_end:
            self.calls.append(self.once())

    def median(self, key: str) -> float:
        return statistics.median(c[key] for c in self.calls)

    def traced(self, wl, tracer) -> dict:
        """One call of `wl` with its public functions wrapped in spans
        under a root span named "call", then its plan cuts."""
        def call(spark):
            with tracer.span("call"):
                wl.call(spark)

        wl.install(tracer)
        try:
            rec = self.once(wl, call)
        finally:
            tracer.restore()
        wl.cuts(self.spark, tracer)
        return rec


def traced_metrics(run: Run, base: str, event_dir: str, seed: int,
                   cold_wall: float) -> dict:
    """Per-layer metrics: the workload's traced call, then one traced call
    of every other workload (its companions, each after one untraced
    warm-up call) so that every layer is measured in every traced run,
    then the event log of the session. A layer several workloads reach
    reports the workload's own figure, else the first companion's."""
    from perfbench import gen, tracing, workloads

    wl, spark = run.wl, run.spark
    tracer = tracing.Tracer(spark.sparkContext, wl.name)
    traced = [(wl, tracer, run.traced(wl, tracer)["wall_s"])]
    for name, cls in workloads.WORKLOADS.items():
        if name == wl.name:
            continue
        cwl = cls(gen.dataset(ROOT, name, seed), f"{wl.out}-{name}")
        ctracer = tracing.Tracer(spark.sparkContext, name)
        run.once(cwl)
        traced.append((cwl, ctracer, run.traced(cwl, ctracer)["wall_s"]))
    spark.stop()
    ev = tracing.EventLog(tracing.newest_event_log(event_dir))
    m = {k: 0.0 for k in workloads.LAYER_METRICS}
    for cwl, ctracer, cwall in reversed(traced[1:]):
        m.update({k: v for k, v in cwl.layers(ctracer, ev, cwall).items()
                  if not k.startswith("trace.")})
    m.update(wl.layers(tracer, ev, traced[0][2]))
    groups = tracer.groups(tracer.named("call")[0])
    m.update({
        "spark.jobs": ev.jobs(groups),
        "spark.task_s": ev.task_sum(groups, "task_s"),
        # over the whole traced run: a single call often runs no GC
        "spark.gc_s": ev.task_sum(list(ev.task), "gc_s"),
        "spark.shuffle_write_mb": ev.task_sum(
            groups, "shuffle_write_bytes") / 1e6,
        "spark.spill_mb": ev.task_sum(groups, "spill_bytes") / 1e6,
        "spark.first_job_extra_s": cold_wall - run.median("wall_s"),
        # against the last untraced call: calls still speed up while the
        # JVM warms, and the traced call directly follows that one
        "trace.overhead_s": traced[0][2] - run.calls[-1]["wall_s"],
    })
    os.makedirs(os.path.join(base, "traces"), exist_ok=True)
    spans = {t.name: tr.to_json(ev.group_jobs) for t, tr, _ in traced}
    with open(os.path.join(base, "traces",
                           f"{wl.name}-{os.getpid()}.json"), "w") as fh:
        json.dump({"spans": spans, "metrics": m}, fh)
    return {k: {"value": float(v), "unit": workloads.LAYER_METRICS[k]}
            for k, v in m.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    # import the benchmark as the `perfbench` package, never its modules
    # from the script directory
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path
                            if os.path.abspath(p or ".") != here]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import data_quality_check_spark  # noqa: F401  (the program under test)

    from perfbench import gen, workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from "
                         f"{sorted(workloads.WORKLOADS)}")
    base = gen.cache_root(ROOT)
    work = os.path.join(base, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # temporary files of this process, its JVMs and Python workers stay
    # in the run directory (no JVM perf-data files either)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    try:
        return _run(args, base, work)
    finally:
        stop_jvm(ProcTree(os.getpid()))
        shutil.rmtree(work, ignore_errors=True)


def _run(args, base: str, work: str) -> int:
    from perfbench import gen, workloads

    t0 = time.perf_counter()
    meta = gen.dataset(ROOT, args.workload, args.seed)
    log(f"input {args.workload} seed {args.seed}: {meta['rows']} rows, "
        f"{meta['input_files']} files, {meta['input_bytes'] / 1e6:.2f} MB, "
        f"{meta['props']} ({time.perf_counter() - t0:.1f}s to prepare)")

    tree = ProcTree(os.getpid())
    stat0, cpu0 = cpu_times(), tree.cpu_s()
    event_dir = os.path.join(work, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    builder = session_builder(work, event_dir)
    setups: list[float] = []
    for i in range(1 if args.trace else SETUP_REPS):
        if i:
            spark.stop()
            stop_jvm(tree)
        spark, s = set_up(builder)
        setups.append(s)
    log(f"set-ups {[round(s, 3) for s in setups]}")

    wl = workloads.WORKLOADS[args.workload](meta, os.path.join(work, "out"))
    run = Run(wl, spark, tree)
    # warm-up: the first call pays codegen, JIT and Python worker start
    warm = [run.once() for _ in range(wl.warmup_calls)]
    cold = warm[0]
    e2e = None
    if args.trace:
        # a traced run reports per-layer metrics only: its untraced calls
        # are just the base that trace.overhead_s and first_job_extra_s
        # compare with
        run.loop(args.seconds, 1)
        metrics = traced_metrics(run, base, event_dir, args.seed,
                                 cold["wall_s"])
    else:
        run.loop(args.seconds, wl.min_calls)
        spark.stop()
        wall = run.median("wall_s")
        e2e = {"setup_s": statistics.median(setups), "wall_s": wall,
               "rows_per_s": meta["rows"] / wall,
               "cpu_s": run.median("cpu_s"),
               "peak_rss_mb": run.median("peak_rss_mb"),
               "output_mb": run.median("output_mb")}
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in e2e.items()}
    ctx = host_context(stat0, cpu_times(), tree.cpu_s() - cpu0)
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "host": ctx,
              "setups_s": setups, "warmup": warm, "calls": run.calls,
              "end_to_end": e2e, "attempted": run.attempted,
              "failed": run.failed,
              "error_rate": run.failed / run.attempted,
              "input": {k: meta[k] for k in (
                  "rows", "input_bytes", "input_files", "props")}}
    with open(os.path.join(base, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    log(f"host {ctx}; error_rate {record['error_rate']:.3f} "
        f"({run.failed}/{run.attempted})")
    for k, v in (e2e or {}).items():
        log(f"{k:>12} {v:14.4f} {END_TO_END[k]}")
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
