#!/usr/bin/env python3
"""Run one engine benchmark measurement.

    python3 enginebench/run.py --workload tail|archive --seed N \
        --seconds S --trace 0|1 [--fixed 0|1]

Builds the engine and the benchmark if needed (enginebench/build.py), then
runs the workload in a fresh JVM at local[<cores>] with every table and
scratch file under .bench_build/runs/. Prints the run's report and, as the
last line, one JSON object: {"correct", "attempted", "failed", "metrics"},
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1), in its order and units; a per-layer metric the
workload never entered reads 0. `--fixed 1` makes an untraced run do the
traced run's fixed number of iterations (the baseline for tracing
overhead). Exits non-zero, without a result line, when the build or the run
fails or an end-to-end metric was not measured, and non-zero after the
result line when the final state disagrees with the oracle.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the benchmark's directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("tail", "archive")
TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def listed_metrics(traced, measured):
    """The measured values as the result's metrics, in BENCHMARK.json's order
    and units. Raises ValueError for an end-to-end metric not measured or a
    measured name the file does not list."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = json.load(fh)["per_layer" if traced else "end_to_end"]
    unknown = set(measured) - {m["name"] for m in listed}
    missing = [m["name"] for m in listed if m["name"] not in measured]
    if unknown or (missing and not traced):
        raise ValueError(f"not listed: {sorted(unknown)}; not measured: {missing}")
    return {m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]} for m in listed}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fixed", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classpath = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    runs = os.path.join(ROOT, ".bench_build", "runs")
    work = os.path.join(runs, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed-size heap: peak RSS and GC work then follow the program, not
    # the collector's heap-resizing decisions
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + build.java_env() + opens +
           ["-cp", os.pathsep.join(classpath), "graft.enginebench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--fixed", str(a.fixed), "--dir", work])
    log = os.path.join(runs, f"{a.workload}-{os.getpid()}.stderr.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"{a.workload}: timed out after {TIMEOUT_S}s; stderr in {log}", file=sys.stderr)
            return 3
    if a.trace:
        spans = os.path.join(work, f"spans-{a.workload}.jsonl")
        if os.path.exists(spans):
            traces = os.path.join(ROOT, ".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(spans, os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    result = [l for l in lines if l.startswith("RESULT ")]
    for l in lines:
        if not l.startswith("RESULT "):
            print(l)
    if not result:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        print(f"{a.workload}: no result (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 1
    res = json.loads(result[-1][len("RESULT "):])
    try:
        res["metrics"] = listed_metrics(a.trace == 1, res["metrics"])
    except ValueError as e:
        print(f"{a.workload}: metrics disagree with BENCHMARK.json: {e}", file=sys.stderr)
        return 4
    os.remove(log)
    print(json.dumps(res))
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
