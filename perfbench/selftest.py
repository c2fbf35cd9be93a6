#!/usr/bin/env python3
"""Self-test of the benchmark on a tiny sf0.001 data set.

    python3 perfbench/selftest.py        (from the root of a checkout)

For every workload it asserts that:
  * an untraced run prints every end-to-end metric of BENCHMARK.json with
    its unit (dash_adhoc, outside BENCHMARK.json, prints the same names);
  * an injected bad request (serve workloads) or throwing query
    (pipeline_batch) is counted as failed and never timed: every other
    operation passes its output check, and the latency sample count is
    attempted - failed;
  * a traced run prints every per-layer metric with its unit, and two
    traced runs give identical exec.jobs, planner.plan_jobs and
    ops.checkpoint_jobs.
It runs every check and exits non-zero if any failed.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SCALE = "0.001"
INJECTED = {"dash_hot": "bad", "dash_adhoc": "bad", "pipeline_batch": "__throws__"}
EXACT = ("exec.jobs", "planner.plan_jobs", "ops.checkpoint_jobs")


def bench(workload, seed, trace, inject=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "2", "--trace", str(trace), "--scale", SCALE]
    if inject:
        cmd.append("--inject")
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.exit(f"FAIL {workload}: exit {out.returncode}\n{out.stdout}\n{out.stderr}")
    return json.loads(lines[-1]), lines


FAILED = []


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        FAILED.append(what)


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for w in ("dash_hot", "pipeline_batch", "dash_adhoc"):
        res, lines = bench(w, 1, 0, inject=True)
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        check(got == e2e, f"{w}: end-to-end metrics and units {sorted(got)}")
        failures = [ln for ln in lines if ln.startswith("FAILED:")]
        check(res["failed"] >= 1 and not res["correct"],
              f"{w}: the injected operation counts as failed ({res['failed']} of "
              f"{res['attempted']})")
        check(failures and all(INJECTED[w] in ln for ln in failures),
              f"{w}: only the injected operation failed")
        summary = json.loads(lines[-2])
        check(summary["latency_samples"] == res["attempted"] - res["failed"],
              f"{w}: failed operations are not timed")
        traced = []
        for _ in range(2):
            res, _ = bench(w, 1, 1)
            check(res["correct"], f"{w}: traced run correct")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == layers, f"{w}: per-layer metrics and units")
            traced.append({k: res["metrics"][k]["value"] for k in EXACT})
        check(traced[0] == traced[1], f"{w}: exact counters repeat {traced}")
    if FAILED:
        sys.exit(f"selftest: {len(FAILED)} check(s) failed")
    print("selftest passed")


if __name__ == "__main__":
    main()
