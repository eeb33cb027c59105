#!/usr/bin/env python3
"""Measure the run-to-run spread of the end-to-end metrics.

Usage (from the repository root):
  python3 perfbench/spread.py [--runs 10] [--first-seed 100] [--workload W ...]

Runs each workload --runs times with --trace 0, each with its own seed,
and prints per metric the median and the distance between the first and
third quartile (statistics.quantiles, n=4) as a share of the median,
beside the metric's bound from BENCHMARK.json. Each run's result line is
appended to <build dir>/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    target = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    os.makedirs(target, exist_ok=True)
    log = open(os.path.join(target, "spread.jsonl"), "a")
    for w in workloads:
        values = {}
        walls = []
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.time()
            r = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"], stdout=subprocess.PIPE, text=True, check=True)
            walls.append(time.time() - t0)
            res = json.loads(r.stdout.strip().splitlines()[-1])
            log.write(json.dumps({"workload": w, "seed": seed,
                                  "run_s": walls[-1], "result": res}) + "\n")
            log.flush()
            if not res["correct"]:
                print(f"{w} seed {seed}: incorrect ({res['failed']} failed)")
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
        print(f"== {w}: {a.runs} runs, {statistics.median(walls):.1f} s median per run")
        for m in spec["end_to_end"]:
            v = values[m["name"]]
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med
            print(f"  {m['name']:<14} median {med:10.3f} {m['unit']:<4}"
                  f" spread {spread:6.3f}  bound {m['bound']}")


if __name__ == "__main__":
    main()
