#!/usr/bin/env python3
"""Bookstore lakehouse benchmark: one run of one workload.

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness and the
library with sbt (lakebench/build.sbt) and caches the launcher in
lakebench/target/; later runs start the JVM directly. The JVM runs the
workload (lakebench.Main) and writes its raw result; this script then
checks the outputs (DuckDB oracles, see checks.py), computes the
metrics and prints one JSON object as the last line of stdout.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(see README.md). Lines before the last carry the host stamp and the
workload-specific detail; a traced run also writes its spans to
lakebench/out/trace-<workload>-<seed>.json.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import checks
import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_nightly", "lakehouse_commits", "operator_catalog")
LAUNCHER = os.path.join(HERE, "target", "launcher.json")
JVM_TIMEOUT_S = 170
# A traced run leaves out the tracing-overhead replays that would end
# later than this after the JVM starts (see README.md, Run protocol).
REPLAY_DEADLINE_S = 135
HEAP = "-Xmx4g"


def log(msg):
    print(f"[lakebench] {msg}", file=sys.stderr, flush=True)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for dirpath, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    return newest


def build():
    """Compile library + harness with sbt unless the launcher is fresh."""
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    if os.path.exists(LAUNCHER) and os.path.getmtime(LAUNCHER) >= newest_mtime(inputs):
        return
    log("building library and harness with sbt")
    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    with open(os.path.join(HERE, "target", "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLauncher"],
                           cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0 or not os.path.exists(LAUNCHER):
        raise SystemExit("sbt build failed; see lakebench/target/build.log")


def cpu_times():
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    return sum(vals[:8]), (vals[7] if len(vals) > 7 else 0)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def run_jvm(args, work, out):
    with open(LAUNCHER) as f:
        launcher = json.load(f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ([launcher["java"]] + launcher["javaOptions"] +
           [HEAP, f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(launcher["classpath"]),
            "lakebench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out,
            "--deadline-ms", str(int((time.time() + REPLAY_DEADLINE_S) * 1000))])
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    if rc != 0 or not os.path.exists(out):
        with open(jvm_log) as lf:
            tail = lf.read()[-4000:]
        sys.stderr.write(tail)
        raise SystemExit(f"workload JVM failed (exit {rc})")
    with open(jvm_log) as lf:
        for line in lf:
            if line.startswith("[lakebench]"):
                sys.stderr.write(line)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("no graft sources next to lakebench/: run from a full checkout")
    build()

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    host = {"nproc": os.cpu_count(), "loadavg_before": loadavg()}
    total0, steal0 = cpu_times()
    t0 = time.time()
    try:
        run_jvm(args, work, out)
        host["loadavg_after"] = loadavg()
        total1, steal1 = cpu_times()
        host["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
        host["jvm_s"] = time.time() - t0
        with open(out) as f:
            res = json.load(f)
        c0 = time.time()
        failed_checks = checks.run(res)
        host["check_s"] = time.time() - c0
        print(json.dumps({"host": host}))
        attempted = len(res["spans"])
        failed = sum(1 for s in res["spans"] if not s["ok"]) + failed_checks
        detail = metrics.detail(res, failed / attempted)
        print(json.dumps({"detail": detail}))
        if args.trace:
            per_layer, report = metrics.per_layer(res, failed / attempted)
            print(json.dumps({"layers": report}))
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            with open(os.path.join(HERE, "out", f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"host": host, "detail": detail, "metrics": per_layer, "layers": report,
                           "spans": res["spans"], "jobs": res["trace"]["jobs"],
                           "plans": res["trace"]["plans"]}, f)
            values = per_layer
        else:
            values = metrics.end_to_end(res)
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)
    units = metrics.UNITS
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
