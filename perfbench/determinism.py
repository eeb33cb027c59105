#!/usr/bin/env python3
"""Check that the benchmark's counters repeat exactly for one seed.

Usage (from the repository root):
  python3 perfbench/determinism.py [--seed N] [--workload W ...]

Runs each workload twice with --trace 1 and the same seed, and compares
every per-layer metric whose unit is `count` and that the workload
reaches: jobs, tasks, rows, wire statements, StageMemo builds and S3
requests. Prints one line per
counter that differs and a summary JSON line
{"workload": {"exact": [...], "inexact": {"name": [first, second]}}}.
Exits 0 either way; the inexact list is the finding.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def traced_run(workload, seed):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    sys.path.insert(0, HERE)
    import run
    workloads = a.workload or list(run.WORKLOADS)
    summary = {}
    for w in workloads:
        first, second = traced_run(w, a.seed), traced_run(w, a.seed)
        exact, inexact = [], {}
        for name, m in first["metrics"].items():
            if m["unit"] != "count":
                continue
            v1, v2 = m["value"], second["metrics"][name]["value"]
            if v1 == v2 == 0:
                continue  # a layer this workload does not reach
            if v1 == v2:
                exact.append(name)
            else:
                inexact[name] = [v1, v2]
                print(f"{w}: {name} {v1} vs {v2}")
        summary[w] = {"exact": exact, "inexact": inexact}
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
