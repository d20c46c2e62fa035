"""Run-to-run spread of the benchmark's metrics.

    python3 enginebench/spread.py --workload trickle_merge --runs 10
    python3 enginebench/spread.py --workload bulk_replay --runs 5 --trace 1

Runs the benchmark once per seed (seeds 1 .. runs, one run at a time, for
BENCHMARK.json's run_seconds), prints each run's result line, then per
metric the median, the quartiles as statistics.quantiles(values, n=4)
gives them, and the inter-quartile distance as a share of the median.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = p.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]

    values = {}
    for seed in range(1, args.runs + 1):
        cmd = [sys.executable, os.path.join(HERE, "run.py"),
               "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(args.trace)]
        r = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
        if r.returncode != 0:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}",
                  file=sys.stderr)
            sys.exit(1)
        line = r.stdout.strip().splitlines()[-1]
        print(f"seed {seed}: {line}", flush=True)
        for k, v in json.loads(line)["metrics"].items():
            values.setdefault(k, []).append(v["value"])

    print(f"{'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        share = (q3 - q1) / med if med else float("nan")
        print(f"{k:40s} {med:12.6g} {q1:12.6g} {q3:12.6g} {share:8.3f}")


if __name__ == "__main__":
    main()
