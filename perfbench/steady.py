#!/usr/bin/env python3
"""Repeat the benchmark over seeds and report each metric's spread.

Usage (from the root of a checkout):

    python3 perfbench/steady.py --workload loops --seeds 1-10 --seconds 10 \
        [--out FILE]

Runs `perfbench/run.py` once per seed, one after another, and prints for
every metric its median and its spread: the distance between the first and
third quartile (`statistics.quantiles(values, n=4)`) as a share of the
median. With --out, the per-seed values and the spreads are written as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    a = ap.parse_args()
    runs = []
    for s in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(s), "--seconds", a.seconds,
                            "--trace", a.trace], capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}")
        r = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append({"seed": s, "correct": r["correct"], "failed": r["failed"],
                     "metrics": {k: v["value"] for k, v in r["metrics"].items()}})
        print(f"seed {s}: " + ", ".join(f"{k} {v:.4g}" for k, v in runs[-1]["metrics"].items()),
              flush=True)
    spreads = {}
    for k in runs[0]["metrics"]:
        vals = [r["metrics"][k] for r in runs]
        q = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        spreads[k] = {"median": med, "q1": q[0], "q3": q[2],
                      "spread": (q[2] - q[0]) / med if med else 0.0}
        print(f"{k}: median {med:.4g}, spread {spreads[k]['spread']:.3f}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seconds": a.seconds, "runs": runs,
                       "spreads": spreads}, f, indent=1)


if __name__ == "__main__":
    main()
