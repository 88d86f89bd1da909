#!/usr/bin/env python3
"""Test of the benchmark itself: the seed may change op order only.

Runs Spark workloads traced under two seeds and asserts that both
runs are correct, that every op reports the same exec.jobs, exec.tasks,
operators.build_jobs and streaming.batches under both seeds, and that the
per-pass totals agree. Run from the repo root:

  python3 perfbench/test_counts.py [workload ...]   (default: floor incremental)
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SEEDS = (101, 202)
COUNTS = ("jobs", "tasks", "build_jobs", "batches")
TOTALS = ("exec.jobs", "exec.tasks", "operators.build_jobs",
          "streaming.batches")


def run(workload, seed):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", "1", "--trace", "1"]
    r = subprocess.run(cmd, capture_output=True, text=True)
    assert r.returncode == 0, f"{workload} seed {seed} failed:\n{r.stderr}"
    result = json.loads(r.stdout.strip().splitlines()[-1])
    out = os.path.join(".bench_build", "perfbench", "out",
                       f"{workload}-trace1-seed{seed}", "ops.jsonl")
    ops = {}
    with open(out) as fh:
        for line in fh:
            op = json.loads(line)
            ops.setdefault(op["op"], []).append(tuple(op[k] for k in COUNTS))
    return result, ops


def check(workload):
    (ra, oa), (rb, ob) = (run(workload, s) for s in SEEDS)
    for r in (ra, rb):
        assert r["correct"] and r["failed"] == 0, f"{workload}: {r}"
    assert oa.keys() == ob.keys(), f"{workload}: op sets differ"
    for name in sorted(oa):
        # every execution of an op, in either run, does the same work
        seen = set(oa[name]) | set(ob[name])
        assert len(seen) == 1, f"{workload} {name}: counts differ {seen}"
    for k in TOTALS:
        a, b = ra["metrics"][k]["value"], rb["metrics"][k]["value"]
        assert a == b, f"{workload} {k}: {a} vs {b}"
    print(f"ok {workload}: {len(oa)} ops, per-op {', '.join(COUNTS)} "
          f"identical under seeds {SEEDS}")


if __name__ == "__main__":
    for w in sys.argv[1:] or ("floor", "incremental"):
        check(w)
