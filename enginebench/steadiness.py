#!/usr/bin/env python3
"""Steadiness report for the engine benchmark.

    python3 enginebench/steadiness.py [--runs 10] [--seed0 1] [--traced 2]
                                      [--workloads tail,archive]

For every workload: N untraced fresh-JVM runs, each with its own seed, then
`--traced` traced runs on one seed, each followed by an untraced run of the
same seed and iteration count (`run.py --fixed 1`). Prints, per end-to-end metric, the
median and quartiles (statistics.quantiles, n=4) and the spread
(q3 - q1) / median, flagged when it exceeds the metric's bound in
BENCHMARK.json (and noted when it exceeds a third of it). Then lists the
per-layer counters that repeat exactly across the traced runs and those
that do not, and the tracing overhead: the median of each end-to-end
metric over the traced runs minus its median over those untraced ones. The
CPU steal share each run's report prints is collected as context for a
slow window.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

WALLS = []  # seconds per run, for the run-time budget
STEALS = []  # share of CPU time the hypervisor took in each run's timed window
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace, fixed=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--fixed", str(fixed)]
    t = time.time()
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    WALLS.append(time.time() - t)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} trace {trace} failed (exit {r.returncode}):\n{r.stdout}")
    res = json.loads(lines[-1])
    if not res["correct"]:
        raise SystemExit(f"{workload} seed {seed}: incorrect result\n{r.stdout}")
    traced_e2e = {}
    steal = 0.0
    for line in lines:
        parts = line.split()
        if parts[:2] == ["traced", "e2e"]:
            traced_e2e[parts[2]] = float(parts[3])
        steal = next((float(p.split("=")[1]) for p in parts if p.startswith("cpu_steal_share=")), steal)
    STEALS.append(steal)
    return {k: v["value"] for k, v in res["metrics"].items()}, traced_e2e


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--traced", type=int, default=2)
    ap.add_argument("--workloads", default=None)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    report = {}
    for w in workloads:
        untraced = [run(w, a.seed0 + i, seconds, 0)[0] for i in range(a.runs)]
        print(f"\n== {w}: {a.runs} untraced runs, seeds {a.seed0}..{a.seed0 + a.runs - 1}, "
              f"wall per run median {statistics.median(WALLS[-a.runs:]):.1f}s max {max(WALLS[-a.runs:]):.1f}s, "
              f"cpu steal share {min(STEALS[-a.runs:]):.3f}..{max(STEALS[-a.runs:]):.3f}")
        names = []
        for m in spec["end_to_end"]:
            vals = [r[m["name"]] for r in untraced]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            names.append(m["name"])
            flag = ("OVER BOUND" if spread > m["bound"]
                    else "over bound/3" if spread > m["bound"] / 3 else "ok")
            print(f"  {m['name']:18s} median {med:14.4f} {m['unit']:9s} q1 {q1:14.4f} q3 {q3:14.4f}"
                  f"  spread {spread:6.3f} (bound {m['bound']}) {flag}")
            report.setdefault(w, {"cpu_steal_share": STEALS[-a.runs:]})[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                                                    "runs": vals}
        if a.traced < 1:
            continue
        # traced runs alternate with untraced ones of the same seed and iteration
        # count, so drift in the host moves both sides alike; the difference is
        # the tracing overhead
        traced, fixed = [], []
        for _ in range(a.traced):
            traced.append(run(w, a.seed0, seconds, 1))
            fixed.append(run(w, a.seed0, seconds, 0, fixed=1)[0])
        layers = [t[0] for t in traced]
        exact = [k for k in layers[0] if all(l[k] == layers[0][k] for l in layers)]
        varying = [k for k in layers[0] if k not in exact]
        print(f"  traced x{a.traced}, seed {a.seed0}: {len(exact)} per-layer metrics repeat exactly")
        print("    exact:   " + " ".join(k for k in exact if layers[0][k] != 0))
        print("    zero:    " + " ".join(k for k in exact if layers[0][k] == 0))
        print("    varying: " + " ".join(f"{k}[{','.join(f'{l[k]:.6g}' for l in layers)}]" for k in varying))
        print(f"  tracing overhead, seed {a.seed0}, same iteration count "
              f"(median of {a.traced} traced - median of {a.traced} untraced):")
        overhead = {}
        for name in names:
            t = statistics.median(r[1][name] for r in traced)
            u = statistics.median(r[name] for r in fixed)
            overhead[name] = {"traced": t, "untraced": u}
            print(f"    {name:18s} traced {t:14.4f} untraced {u:14.4f}  {t - u:+.4f} ({(t - u) / u:+.1%})")
        report[w]["traced"] = {"exact": exact, "varying": varying, "runs": layers, "overhead": overhead}
    out = os.path.join(ROOT, ".bench_build", "steadiness.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"\nwritten {os.path.relpath(out, ROOT)}")


if __name__ == "__main__":
    main()
