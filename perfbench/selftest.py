#!/usr/bin/env python3
"""Self-test of the benchmark, in its smoke shape.

    python3 perfbench/selftest.py

Checks that every metric BENCHMARK.json declares is printed with its
unit, on a query workload and on graph_build, with and without --trace,
and that a corrupted expected hash is reported as a failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".work", "state-smoke-sf0.001.json")


def bench(workload, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--smoke",
                        "--workload", workload, "--seed", "7", "--seconds", "2",
                        "--trace", str(trace)], cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"FAIL {workload} trace={trace}: exit {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        raise SystemExit(1)


def metrics_match(out, declared, what):
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    want = {m["name"]: m["unit"] for m in declared}
    expect(got == want, f"{what}: metric names and units match BENCHMARK.json")
    expect(all(isinstance(v["value"], (int, float)) for v in out["metrics"].values()),
           f"{what}: every value is a number")


def corrupted(workload, mutate):
    """Run once with one expected hash corrupted; restore the state after."""
    with open(STATE) as f:
        saved = f.read()
    state = json.loads(saved)
    what = mutate(state)
    with open(STATE, "w") as f:
        json.dump(state, f)
    try:
        out = bench(workload, 0)
    finally:
        with open(STATE, "w") as f:
            f.write(saved)
    expect(not out["correct"] and out["failed"] >= 1,
           f"{workload}: corrupted {what} is reported as a failure")


def corrupt_query(state):
    for name in state["expected"]:
        state["expected"][name] = "0" * 64
    return "oracle-less result hash"


def corrupt_graph(state):
    for key in state["graph"]:
        state["graph"][key] = "0:0"
    return "edge-set hash"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for workload, mutate in (("queries", corrupt_query),
                             ("graph_build", corrupt_graph)):
        out = bench(workload, 0)
        expect(out["correct"] and out["failed"] == 0 and out["attempted"] >= 1,
               f"{workload}: correct, {out['attempted']} calls attempted")
        metrics_match(out, spec["end_to_end"], f"{workload} --trace 0")
        metrics_match(bench(workload, 1), spec["per_layer"], f"{workload} --trace 1")
        corrupted(workload, mutate)
    print("selftest passed")


if __name__ == "__main__":
    main()
