#!/usr/bin/env python3
"""Exact-repeat check: run one workload traced, twice, with the same seed,
and compare the counts that must repeat exactly.

    python3 lakebench/repeat_check.py --workload <name> [--seed 1] [--seconds 2]

The counts come from the first traced cycle, whose inputs and operations
are fixed by the seed: spark.jobs, spark.tasks, queries.eager_jobs,
and, per format or catalog entry, merge_files_rewritten, log_files,
bytes_per_user_byte and jobs. A count that differs is reported with its
spread (max - min over min), as a timing would be. Exit status 1 if any
count differs.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTS = ("spark.jobs", "spark.tasks", "queries.eager_jobs")
REPORT_SUFFIXES = ("merge_files_rewritten", "log_files", "bytes_per_user_byte", ".jobs")


def one_run(args):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "1"],
        cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, check=True, text=True).stdout
    lines = [json.loads(line) for line in out.splitlines() if line.startswith("{")]
    final = lines[-1]
    layers = next(line["layers"] for line in lines if "layers" in line)
    counts = {k: final["metrics"][k]["value"] for k in COUNTS}
    counts.update({k: v for k, v in layers.items() if k.endswith(REPORT_SUFFIXES)})
    return counts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=2)
    args = ap.parse_args()
    a, b = one_run(args), one_run(args)
    differ = 0
    for k in sorted(a):
        x, y = a[k], b.get(k)
        if x == y:
            print(f"same    {k} = {x}")
        else:
            differ += 1
            lo = min(x, y)
            spread = (max(x, y) - lo) / lo if lo else float("inf")
            print(f"DIFFERS {k}: {x} vs {y} (spread {spread:.2e})")
    print(f"{args.workload} seed {args.seed}: {len(a) - differ} counts repeat, {differ} differ")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
