#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py <workload> [runs] [first_seed]

Runs the benchmark `runs` times (default 10) on one workload, each run with
the next seed, and prints for every end-to-end metric its median, its
quartile spread — (Q3 - Q1) / median with Q1 and Q3 from
statistics.quantiles(values, n=4) — and that spread as a share of the
metric's bound in BENCHMARK.json. Run it from the repository root.
"""
import json
import os
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    # a terminated spread run stops its current benchmark run as well
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    workload = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    first = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(first, first + runs):
        start = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        try:
            out = proc.communicate()[0]
        finally:
            # SIGTERM, not SIGKILL: run.py then stops its JVM before it exits
            if proc.poll() is None:
                proc.terminate()
                proc.wait()
        if proc.returncode != 0:
            sys.exit(f"seed {seed}: run.py exited with {proc.returncode}")
        res = json.loads(out.strip().splitlines()[-1])
        print(f"seed {seed}: {time.monotonic() - start:.0f} s correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{m['name']:>14}: median {med:.4g} {m['unit']}  spread {spread:.3f}"
              f"  ({spread / m['bound']:.2f} of bound {m['bound']})")


if __name__ == "__main__":
    main()
