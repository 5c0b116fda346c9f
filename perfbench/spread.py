#!/usr/bin/env python3
"""Runs the benchmark on several seeds and prints, per end-to-end metric,
the median and the inter-quartile spread as a share of the median next to
the bound BENCHMARK.json fixes for it.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds N]
"""
import argparse
import json
import os
import subprocess
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = a.seconds or bench["run_seconds"]
    lo, hi = map(int, a.seeds.split("-"))
    values = {}
    for seed in range(lo, hi + 1):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                              a.workload, "--seed", str(seed), "--seconds", str(seconds),
                              "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit("seed %d failed:\n%s" % (seed, out.stderr[-3000:]))
        line = json.loads(out.stdout.strip().splitlines()[-1])
        print("seed %d: %s" % (seed, json.dumps(
            {k: round(v["value"], 4) for k, v in line["metrics"].items()})), flush=True)
        for k, v in line["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        print("%-20s median %10.4f  spread %.3f  bound %.2f" % (
            m["name"], stats.median(xs), stats.spread(xs), m["bound"]))


if __name__ == "__main__":
    main()
