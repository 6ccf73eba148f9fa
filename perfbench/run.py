#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON result line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload scan|pipeline --seed N \
      --seconds S --trace 0|1

Builds the program and the benchmark harness from source (perfbench/build.py),
verifies the fixed sf0.1 tables under perfbench/data against their checksums,
runs the workload in one JVM on local[4], checks the checking pass's outputs
against DuckDB (perfbench/oracle.py), and prints as its last stdout line
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). Everything it writes lives under .bench_build/perfbench.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import oracle  # noqa: E402

DEADLINE_S = 170  # the whole run, build excluded
# JDK 17 module opens Spark needs outside spark-submit (as the project's build.sbt gives `run`)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.stderr.flush()


def verified_data(root):
    """The sf0.1 tables (seed 42), checked against data/SHA256SUMS."""
    data = os.path.join(root, "perfbench", "data")
    with open(os.path.join(data, "SHA256SUMS")) as fh:
        for line in fh:
            digest, name = line.split()
            with open(os.path.join(data, name), "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != digest:
                    raise SystemExit(f"perfbench: {name} differs from its checksum")
    return data


def jvm(jar, harness_args, work, budget):
    """Runs the harness JVM in `work`, its output in work/jvm.log; returns its exit code."""
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", os.pathsep.join([jar] + build.spark_jars()), "perfbench.Harness",
        "--work", work] + harness_args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            return proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: the JVM did not finish within {budget:.0f} s")


def run_jvm(jar, args, data, work, budget):
    result = os.path.join(work, "result.json")
    code = jvm(jar, [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--data", data], work, budget)
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log"), errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: the JVM exited with code {code}")
    with open(result) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["scan", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    out = os.path.join(root, ".bench_build", "perfbench")
    jar = build.build(root, out)
    data = verified_data(root)
    t0 = time.time()
    work = os.path.join(out, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    res = run_jvm(jar, args, data, work, DEADLINE_S - 15)
    t1 = time.time()
    mismatches = oracle.check(os.path.join(data, "sf0.1"), res["oracle"],
                              os.path.join(out, "oracle_cache.json"))
    log(f"jvm {t1 - t0:.1f} s, oracle check {time.time() - t1:.1f} s")
    failures = res["failures"] + [f"{n} (checking pass): {why}" for n, why in mismatches]
    for f in failures:
        log(f"FAILED {f}")
    attempted = res["attempted"]
    failed = res["failed"] + len(mismatches)
    values = dict(res["metrics"])
    values["ok_ratio"] = 1.0 - failed / attempted
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise SystemExit(f"perfbench: no value for {missing}")
    log(f"{args.workload}: {time.time() - t0:.1f} s")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
