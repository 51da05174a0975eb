"""Steadiness check: two sets of runs of the same code, per workload.

    python3 perfbench/steady.py

Runs perfbench/run.py ten times per workload of BENCHMARK.json in each of
two sets, each run with its own seed (set 1 uses seeds 1..10, set 2 seeds
101..110), the sets interleaved run by run. For every end-to-end metric it
prints each set's median, quartiles and spread (inter-quartile range over
the median), and checks them against BENCHMARK.json: every spread within
the metric's bound, and set 2's median no worse than set 1's by more than
the bound. Then it makes one traced run per workload and set and reports
the tracing overhead (traced minus untraced wall). Exits 1 if a check
fails or a run is not correct.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = 10


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """The run's result line, plus `run_s`: how long the whole run took."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}")
    return {**json.loads(lines[-1]), "run_s": time.perf_counter() - t0}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, first quartile, third quartile, IQR / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    argparse.ArgumentParser(description=__doc__.split("\n\n")[0]
                            ).parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    ok = True
    report = {}
    run_s: dict[str, list[float]] = {}
    for wl in names:
        sets: list[list[dict]] = [[], []]
        for i in range(RUNS):
            for s in (0, 1):
                r = one_run(wl, 1 + 100 * s + i, bench["run_seconds"], 0)
                ok &= bool(r["correct"])
                sets[s].append(r["metrics"])
                run_s.setdefault(wl, []).append(r["run_s"])
                print(f"{wl} set {s + 1} run {i + 1} ({r['run_s']:.0f} s): "
                      + ", ".join(f"{k}={v['value']:.4g}"
                                  for k, v in r["metrics"].items()),
                      file=sys.stderr, flush=True)
        rows = report[wl] = {}
        print(f"\n{wl}")
        print(f"  {'metric':<14}{'set':>4}{'median':>12}{'q1':>12}"
              f"{'q3':>12}{'spread':>9}{'bound':>7}  verdict")
        for name, m in metrics.items():
            stats = [spread([r[name]["value"] for r in runs])
                     for runs in sets]
            lower = m["better"] == "lower"
            m1, m2 = stats[0][0], stats[1][0]
            drift = (m2 - m1) / m1 if lower else (m1 - m2) / m1
            good = drift <= m["bound"] and all(st[3] <= m["bound"]
                                               for st in stats)
            ok &= good
            rows[name] = {"sets": stats, "drift": drift, "ok": good}
            for s, st in enumerate(stats):
                verdict = ("" if s == 0 else
                           f"{'ok' if good else 'FAIL'} (drift "
                           f"{drift:+.3f})")
                print(f"  {name:<14}{s + 1:>4}{st[0]:>12.4g}{st[1]:>12.4g}"
                      f"{st[2]:>12.4g}{st[3]:>9.3f}{m['bound']:>7}  "
                      f"{verdict}")
        traced = [one_run(wl, 1 + 100 * s, bench["run_seconds"], 1)
                  for s in (0, 1)]
        ok &= all(r["correct"] for r in traced)
        over = [r["metrics"]["trace.overhead_s"]["value"] for r in traced]
        frac = [r["metrics"]["trace.layer_sum_frac"]["value"]
                for r in traced]
        rows["trace.overhead_s"] = over
        rows["trace.layer_sum_frac"] = frac
        print(f"  tracing overhead (traced - untraced wall), set 1 / 2: "
              + " / ".join(f"{v:+.3f}" for v in over) + " s; layer sum / "
              f"wall: " + " / ".join(f"{v:.3f}" for v in frac)
              + f"; a traced run takes "
              f"{max(r['run_s'] for r in traced):.0f} s at most")
    # the budget of a two-commit comparison: 4 + 22 runs per workload
    med = {wl: statistics.median(v) for wl, v in run_s.items()}
    each = ", ".join(f"{wl} {s:.0f} s" for wl, s in med.items())
    print(f"\nrun time: median {each}; 4 + 22 runs per workload take "
          f"about {4 * max(med.values()) + 22 * sum(med.values()):.0f} s")
    print(json.dumps(report))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
