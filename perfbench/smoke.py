#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny size.

Usage (from the root of a checkout):

    python3 perfbench/smoke.py [workload ...]

Runs every workload (by default all five, the by-hand ones included) with the
tiny input set and one pass, untraced and traced. It asserts that each run
exits 0 and is correct, that the metrics printed are exactly the ones
BENCHMARK.json names, each with its unit, and that the output checks ran.
Exits 1 on the first failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

from run import WORKLOADS  # noqa: E402


def run(workload, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "0", "--trace", str(trace), "--size", "smoke",
           "--min-passes", "1", "--setups", "1"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    assert r.returncode == 0 and lines, f"{workload}: exit {r.returncode}\n{r.stderr[-2000:]}"
    info = next(json.loads(x[5:]) for x in lines if x.startswith("info "))
    return info, json.loads(lines[-1])


def main():
    os.chdir(os.path.dirname(HERE))
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for w in sys.argv[1:] or WORKLOADS:
        for trace in (0, 1):
            info, res = run(w, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want[trace], f"{w} trace {trace}: metrics {got} != {want[trace]}"
            for k, v in res["metrics"].items():
                assert isinstance(v["value"], (int, float)), (k, v)
            assert info["checks_run"] >= 1, f"{w}: no output check ran"
            print(f"ok {w} trace={trace} attempted={res['attempted']} "
                  f"checks={info['checks_run']} wall={info['wall_s']}s", flush=True)
    print("smoke: all workloads ok")


if __name__ == "__main__":
    try:
        main()
    except AssertionError as e:
        print(f"smoke: FAIL {e}", file=sys.stderr)
        sys.exit(1)
