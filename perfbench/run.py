#!/usr/bin/env python3
"""Layered closed-loop benchmark of the graft engine.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source on first use (see build.py), then runs one
workload in a fresh JVM and a fresh working directory under
`.bench_build/perfbench/runs`. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}; end-to-end metrics
with --trace 0, per-layer metrics with --trace 1. A traced run also writes
each operation's counts to `.bench_build/perfbench/traces/<workload>-<seed>.json`.
Exits non-zero, without a result line, if the build or the run fails, and
with code 1 after the result line if an output check failed.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["etl_reference", "table_write", "curation_dedup"]
RUN_TIMEOUT_S = 170

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        cp, archive = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.OUT, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    if a.trace:
        args += ["--trace-out",
                 os.path.join(build.OUT, "traces", f"{a.workload}-{a.seed}.json")]
    try:
        r = subprocess.run(build.jvm(cp, work, *args, archive=archive), cwd=build.ROOT,
                           stdout=subprocess.PIPE,
                           stderr=sys.stderr, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        print(f"[perfbench] no result (exit {r.returncode})", file=sys.stderr)
        return r.returncode or 4
    sys.stdout.write("\n".join(lines) + "\n")
    return r.returncode


if __name__ == "__main__":
    sys.exit(main())
