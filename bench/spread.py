#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs a workload once per seed, then prints for every end-to-end metric
of BENCHMARK.json the median of its values and the spread: the distance
between the first and third quartile (statistics.quantiles, n=4) as a
share of the median, beside the metric's bound.

    python3 bench/spread.py --workload feed_mixed --runs 10 --first-seed 1
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds",
             str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: run failed (exit {r.returncode})")
        res = json.loads(lines[-1])
        for k in values:
            values[k].append(res["metrics"][k]["value"])
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} " +
              " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()),
              flush=True)
    print(f"{'metric':20} {'median':>14} {'spread':>8} {'bound':>6}")
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"{m['name']:20} {med:14.4f} {(q3 - q1) / med:8.3f} "
              f"{m['bound']:6.2f}")


if __name__ == "__main__":
    main()
