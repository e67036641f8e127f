#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports, per end-to-end metric,
the median and the spread: (Q3 - Q1) / median, with the quartiles of
statistics.quantiles(values, n=4), next to the bound in BENCHMARK.json.

Usage: python3 perfbench/stability.py [--workloads a,b] [--seeds 1-10] [--json out.json]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("inf")


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--json")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in a.workloads.split(","):
        results = []
        for s in seeds_of(a.seeds):
            res = run_once(w, s, bench["run_seconds"])
            ok = res is not None and res["correct"] and res["failed"] == 0
            print(f"{w} seed {s}: " + (json.dumps({k: round(v["value"], 4) for k, v in
                                                    res["metrics"].items()}) if ok else
                                       f"FAILED {res}"), flush=True)
            if ok:
                results.append(res)
        report[w] = {}
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in results]
            if len(vals) < 2:
                continue
            med, sp = spread(vals)
            report[w][name] = {"median": med, "spread": sp, "bound": bound, "values": vals}
            flag = "" if name == "setup_s" or sp <= bound / 3 else \
                ("  > bound/3" if sp <= bound else "  > BOUND")
            print(f"  {w:16s} {name:14s} median {med:12.4f}  spread {sp:6.3f}  "
                  f"bound {bound}{flag}", flush=True)
    if a.json:
        json.dump(report, open(a.json, "w"), indent=1)


if __name__ == "__main__":
    main()
