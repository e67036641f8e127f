#!/usr/bin/env python3
"""Benchmark-local tests.

  GeneratorTest  every input is a pure function of (workload, seed): one
                 seed gives identical inputs twice, another seed different
                 inputs (compares digests of the generated inputs); every
                 workload runs, and passes its checks, at seeds -1 and 2^63-1.
  CountTest      two traced runs at one seed agree on every count that
                 counts.json records as deterministic, operation by
                 operation, and on the end-of-window table state.

Run:    python3 perfbench/test_bench.py [-v]
Record: python3 perfbench/test_bench.py --record   (rewrites counts.json from
        two traced runs: a count is recorded when both runs agree on it)
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

COUNTS = os.path.join(HERE, "counts.json")
RECORD_SEED = 3
# counts that may repeat exactly; times and byte totals are never compared
CANDIDATES = ["plan.statements", "exec.jobs", "exec.stages", "exec.tasks",
              "exec.failed_tasks", "exec.input_rows", "fs.open", "fs.create",
              "fs.get_file_status", "fs.list_status", "fs.rename", "fs.delete",
              "fs.mkdirs", "ops.candidate_pairs", "ops.verified_pairs", "rows"]


def digest(workload, seed):
    cp, _ = build.build()
    out = subprocess.run(["java", "-cp", cp, "perfbench.Main", "--workload", workload,
                          "--seed", str(seed), "--digest"],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                         check=True)
    return out.stdout.strip()


def traced(workload, seed):
    """One traced run; returns its trace (operations and table state)."""
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "10", "--trace", "1"],
                       cwd=build.ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    assert r.returncode == 0, f"traced {workload} run failed: {r.stdout[-500:]}"
    path = os.path.join(build.OUT, "traces", f"{workload}-{seed}.json")
    copy = path + ".copy"
    shutil.copy(path, copy)
    with open(copy) as f:
        return json.load(f)


def op_counts(trace):
    ops = []
    for o in trace["ops"]:
        c = dict(o["counts"])
        c["rows"] = o["rows"]
        ops.append((o["kind"], c))
    return ops


def agreeing(a, b):
    """Counts on which two traces agree for every operation both ran."""
    n = min(len(a["ops"]), len(b["ops"]))
    ca, cb = op_counts(a)[:n], op_counts(b)[:n]
    keep = []
    for k in CANDIDATES:
        if all(x[0] == y[0] and x[1].get(k, 0) == y[1].get(k, 0) for x, y in zip(ca, cb)):
            keep.append(k)
    state = [k for k in sorted(a["state"]) if a["state"][k] == b["state"].get(k)]
    return keep, state


class GeneratorTest(unittest.TestCase):
    def test_inputs_are_a_function_of_the_seed(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                first = digest(w, 1)
                self.assertEqual(first, digest(w, 1))
                self.assertNotEqual(first, digest(w, 2))

    def test_any_64_bit_seed_runs(self):
        # seeds at the ends of the range reach the SQL that fills the
        # tables, where ANSI mode raises on Long overflow
        for w in run.WORKLOADS:
            for seed in (-1, 2 ** 63 - 1):
                with self.subTest(workload=w, seed=seed):
                    r = subprocess.run(
                        [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                         "--seed", str(seed), "--seconds", "1", "--trace", "0"],
                        cwd=build.ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                        text=True)
                    self.assertEqual(r.returncode, 0, r.stdout[-500:])
                    self.assertTrue(json.loads(r.stdout.splitlines()[-1])["correct"])


class CountTest(unittest.TestCase):
    def test_two_traced_runs_agree_on_recorded_counts(self):
        with open(COUNTS) as f:
            record = json.load(f)
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                a, b = traced(w, record["seed"]), traced(w, record["seed"])
                n = min(len(a["ops"]), len(b["ops"]))
                self.assertGreater(n, 0)
                for i, ((ka, ca), (kb, cb)) in enumerate(zip(op_counts(a)[:n], op_counts(b)[:n])):
                    self.assertEqual(ka, kb)
                    for k in record["workloads"][w]["per_op"]:
                        self.assertEqual(ca.get(k, 0), cb.get(k, 0), f"op {i} ({ka}) {k}")
                for k in record["workloads"][w]["state"]:
                    self.assertEqual(a["state"][k], b["state"][k], k)


def record():
    out = {"seed": RECORD_SEED, "workloads": {}}
    for w in run.WORKLOADS:
        a, b = traced(w, RECORD_SEED), traced(w, RECORD_SEED)
        per_op, state = agreeing(a, b)
        n = min(len(a["ops"]), len(b["ops"]))
        out["workloads"][w] = {
            "per_op": per_op, "state": state,
            "not_repeating": [k for k in CANDIDATES if k not in per_op],
            "first_ops": [{"kind": kind, **{k: c.get(k, 0) for k in per_op}}
                          for kind, c in op_counts(a)[:n]],
            "end_state": {k: a["state"][k] for k in state}}
        print(w, "deterministic:", per_op, state, flush=True)
    with open(COUNTS, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    if "--record" in sys.argv:
        record()
    else:
        unittest.main()
