#!/usr/bin/env python3
"""Steadiness check: run one workload on several seeds and print, per
end-to-end metric, the median and the quartile spread (distance between
the first and third quartile as a share of the median) next to the
metric's bound.

Usage (from the repository root):
    python3 perfbench/spread.py --workload <name> [--seeds 1-10] [--seconds <s>]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

import benchlib


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    lo, hi = map(int, args.seeds.split("-"))
    seconds = args.seconds or spec["run_seconds"]
    runner = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(lo, hi + 1):
        out = subprocess.run([sys.executable, runner, "--workload", args.workload,
                              "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                             stdout=subprocess.PIPE, check=True).stdout.decode()
        res = json.loads(out.strip().splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        if len(xs) >= 2:
            s = benchlib.quartile_spread(xs)
            print(f"{m['name']:>16}: median {statistics.median(xs):.4g} spread {s:.3f} "
                  f"bound {m['bound']} ({'ok' if s < m['bound'] / 3 else 'WIDE'})")


if __name__ == "__main__":
    main()
