#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds graft and the benchmark from source (perfbench/build.py), then runs
one JVM at local[4] (graftbench.Main) with a fresh scratch root for the
run: Spark's local dir, java.io.tmpdir and SPARK_GRAFT_TMPDIR all sit
under .bench_build/runs/<run> in the checkout. Prints one JSON line as the
last line of stdout: {"correct", "attempted", "failed", "metrics"}. With
--trace 1 the metrics are the per-layer ones, and the span file is kept
under .bench_build/traces/.

Workloads and metrics are described in perfbench/README.md.
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

WORKLOADS = ("skewed_ops", "uniform_streaming")
SF_DIR = os.path.join(HERE, "data", "sf0.001")
DIGESTS = os.path.join(HERE, "expected", "harness_digests.json")
RUN_LIMIT_S = 175

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def tree_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record-digests", metavar="FILE",
                   help="write the harness result digests this run saw to FILE")
    args = p.parse_args()
    started = time.monotonic()

    for f in (DIGESTS, os.path.join(SF_DIR, "lineitem.parquet")):
        if not os.path.exists(f):
            print(f"missing benchmark input {f}", file=sys.stderr)
            return 2
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}-{int(time.time())}"
    run_dir = os.path.join(build.BUILD_DIR, "runs", run_id)
    graft_tmp = os.path.join(run_dir, "graft-tmp")
    for d in (graft_tmp, os.path.join(run_dir, "tmp")):
        os.makedirs(d)
    result_file = os.path.join(run_dir, "result.json")
    trace_file = None
    if args.trace:
        traces = os.path.join(build.BUILD_DIR, "traces")
        os.makedirs(traces, exist_ok=True)
        trace_file = os.path.join(traces, run_id + ".json")

    cmd = [build.java()]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-Xms4g", "-Xmx4g", "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", run_dir, "--sf-dir", SF_DIR, "--digests", DIGESTS,
            "--result", result_file]
    if trace_file:
        cmd += ["--trace-file", trace_file]
    if args.record_digests:
        cmd += ["--record-digests", os.path.abspath(args.record_digests)]
    env = dict(os.environ, SPARK_GRAFT_TMPDIR=graft_tmp)

    budget = max(10.0, RUN_LIMIT_S - (time.monotonic() - started))
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, cwd=run_dir)
    try:
        code = proc.wait(timeout=budget)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"run exceeded {budget:.0f} s; killed", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1
    if code != 0 or not os.path.exists(result_file):
        print(f"benchmark JVM exited with {code}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1

    with open(result_file) as fh:
        result = json.load(fh)
    if args.trace:
        # what the run left under its SPARK_GRAFT_TMPDIR root
        result["metrics"]["jvm.tmpdir_left_mb"] = {
            "value": tree_bytes(graft_tmp) / 1048576.0, "unit": "MB"}
    shutil.rmtree(run_dir, ignore_errors=True)
    if trace_file:
        print(f"trace written to {os.path.relpath(trace_file)}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
