#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage (from the repository root):
  python3 perfbench/run.py --workload medallion|lake \\
      --seed N --seconds S --trace 0|1

Builds the engine and the harness (perfbench/build.py), starts one JVM
in a fresh working directory under the build directory, and runs the
workload there (perfbench/src/Main.scala): set-up, then the timed cold
pass, then more passes while S seconds have not passed. The `lake`
results are compared with their DuckDB oracles after the JVM exits. The
last stdout line is {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1. The full record of the run (inputs, cpus, heap,
seed, every metric, spans, failures) is kept under <build dir>/records/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("medallion", "lake")
# the sf directory the `lake` queries read, as graft.Bench takes it
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR",
                        os.path.expanduser("~/testdata/sf0.1"))
# raw CSV rows of the medallion workload
MEDALLION_ROWS = 5000
HEAP = "3g"
JVM_LIMIT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def metric_specs():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def host_calibration_s():
    """Seconds one core takes for a fixed integer loop: the single-core
    part of the machine's speed when the run starts. Recorded, not
    reported."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_500_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    end_to_end, per_layer = metric_specs()
    target = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classes = build.build(target)
    cpus = len(os.sched_getaffinity(0))

    run_dir = os.path.abspath(os.path.join(
        target, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "out")
    # every scratch location the JVM, Hadoop and Derby would otherwise
    # put under /tmp or the home directory stays in the run directory
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.hadoop.hadoop.tmp.dir=" + tmp,
            "-Dderby.system.home=" + run_dir]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + build.SPARK_JARS + "/*", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--sf", SF_DIR, "--rows", str(MEDALLION_ROWS), "--out", out])
    calib_s = host_calibration_s()
    t0 = time.time()
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    jvm_s = time.time() - t0
    result_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        shutil.rmtree(run_dir, ignore_errors=True)
        raise SystemExit(f"run: harness JVM {'timed out' if rc is None else 'exited ' + str(rc)}")
    with open(result_path) as f:
        res = json.load(f)
    failures = list(res["failures"])
    failed = res["failed"]

    # output checks of the query workloads, outside every timed region
    check_s = 0.0
    if a.workload != "medallion":
        t1 = time.time()
        verdict, check_times = oracle.check(SF_DIR, res["info"]["lake"],
                                            res["info"]["order"], cpus)
        res["info"]["oracle_check_s_by_query"] = check_times
        # a query that already failed in the JVM counts once
        failed_in_jvm = {f.split(":")[0] for f in failures}
        bad = {q: v for q, v in verdict.items()
               if v is not None and q not in failed_in_jvm}
        failures += [f"{q}: {v}" for q, v in sorted(bad.items())]
        failed += len(bad)
        check_s = time.time() - t1

    metrics = res["metrics"]
    wanted = end_to_end if a.trace == 0 else per_layer
    shown = {}
    for m in wanted:
        if m["name"] in metrics:
            v = metrics[m["name"]]
        elif a.trace == 1:
            v = 0  # a layer this workload does not reach
        else:
            raise SystemExit(f"run: metric {m['name']} missing")
        shown[m["name"]] = {"value": v, "unit": m["unit"]}

    record = dict(res)
    record["info"] = dict(res["info"], jvm_s=jvm_s, oracle_check_s=check_s,
                          host_calibration_s=calib_s)
    record["failures"] = failures
    record["failed"] = failed
    for part in ("spans", "jobs"):
        with open(os.path.join(out, part + ".jsonl")) as f:
            record[part] = [json.loads(l) for l in f if l.strip()]
    rec_dir = os.path.join(target, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(rec_dir, f"{a.workload}-s{a.seed}-t{a.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    for msg in failures:
        print("FAILED " + msg)
    print(json.dumps({"record": rec_path, **{k: v for k, v in record["info"].items()
                                             if k not in ("order",)}}))
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": shown}))


if __name__ == "__main__":
    main()
