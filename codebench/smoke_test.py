#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny scale (a few minutes):

    python3 codebench/smoke_test.py

Checks that every workload prints every metric BENCHMARK.json names, with
its unit, in both modes, and every end-to-end metric finite and above 0;
that another seed changes the inputs but not the metric names; and that a
deliberately perturbed hit list fails the correctness check and the exit
code.
"""
import json
import math
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ["search", "dedup"]


def run(workload, seed, trace, *extra):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "2", "--trace", str(trace),
           "--scale", "tiny"] + list(extra)
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    inputs = [l for l in lines if l.startswith("# input ")]
    return r.returncode, result, inputs, r.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []

    def check(cond, what):
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    seen = {}
    for w in WORKLOADS:
        for trace in (0, 1):
            code, res, inputs, err = run(w, 1, trace)
            check(code == 0 and res is not None and res["correct"],
                  f"{w} trace={trace} runs and passes its checks")
            if res is None:
                print(err[-3000:])
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want[trace], f"{w} trace={trace} prints every metric with its unit")
            if trace == 0:
                bad = [k for k, v in res["metrics"].items()
                       if not (math.isfinite(v["value"]) and v["value"] > 0)]
                check(not bad, f"{w} end-to-end metrics are finite and above 0 {bad}")
            check(set(res) == {"correct", "attempted", "failed", "metrics"}
                  and res["attempted"] >= 1, f"{w} trace={trace} result keys")
            seen[(w, trace)] = (got, inputs)

    code, res, inputs, _ = run("dedup", 2, 0)
    if res is not None and ("dedup", 0) in seen:
        got1, inputs1 = seen[("dedup", 0)]
        check(inputs != inputs1, "another seed changes the inputs")
        check(set(res["metrics"]) == set(got1), "another seed keeps the metric names")
    else:
        check(False, "dedup seed 2 runs")

    code, res, _, _ = run("search", 1, 0, "--perturb", "1")
    check(code != 0 and res is not None and not res["correct"] and res["failed"] > 0,
          "a perturbed hit list fails the check and the exit code")

    if problems:
        sys.exit("smoke test failed: " + "; ".join(problems))
    print("smoke test passed")


if __name__ == "__main__":
    main()
