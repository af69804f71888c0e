#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, against their bounds.

    python3 perfbench/spread.py --workload olap_read --runs 10 [--first-seed 1]

Runs the workload once per seed, untraced, and prints for every end-to-end
metric the median, the quartile spread (Q3 - Q1, as
`statistics.quantiles(values, n=4)` gives them) as a share of the median,
and a third of the metric's bound from BENCHMARK.json, which the spread
should stay under. Also prints how many runs flagged a busy box.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values = {m["name"]: [] for m in spec["end_to_end"]}
    contended = 0
    for seed in range(a.first_seed, a.first_seed + a.runs):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                              a.workload, "--seed", str(seed), "--trace", "0"],
                             cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            print(out.stderr[-2000:], file=sys.stderr)
            return 1
        art, res = (json.loads(l) for l in out.stdout.strip().splitlines()[-2:])
        contended += bool(art["box"]["contended"])
        row = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} {row}", flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
    print(f"{a.workload}: {a.runs} runs, {contended} on a busy box")
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        print(f"  {m['name']:<18} median {med:12.4f} {m['unit']:<4} spread {(q3 - q1) / med:7.2%}"
              f"  (bound/3 {m['bound'] / 3:6.2%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
