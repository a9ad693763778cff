#!/usr/bin/env python3
"""Steadiness mode: run workloads repeatedly and report the spread.

Usage (from the root of a checkout):

    python3 perfbench/steady.py --seeds 1-10 --held-out 1001 [--trace 0|1]
        [--workloads registry_headline,etl_commits] [--out steady.json]

For every workload and seed it runs perfbench/run.py once, then prints, for
each metric, the median, the first and third quartiles and the spread
(q3 - q1) / median beside the metric's bound, with the 1-minute loadavg and
the same-run DuckDB oracle time. Op latencies are pooled over the runs, so
op_p90_s is printed here once at least ten samples lie beyond it. The
held-out seed runs last, once per workload, and is reported as a ratio to
the median of the other seeds: a later claim can be checked on it.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def one_run(workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed ({r.returncode}):\n{r.stderr[-2000:]}")
    info = next(json.loads(x[5:]) for x in lines if x.startswith("info "))
    res = json.loads(lines[-1])
    # the printed-only times ride along, so steadiness covers them too
    shown = {"cold_pass_s": info["cold_pass_s"], **info.get("layer_times", {})}
    res["metrics"].update({k: {"value": v, "unit": "s"} for k, v in shown.items()})
    return info, res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--held-out", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    seeds = parse_seeds(a.seeds)
    report = {}
    for w in workloads:
        runs = []
        for s in seeds:
            info, res = one_run(w, s, spec["run_seconds"], a.trace)
            runs.append((info, res))
            print(f"# {w} seed {s}: correct={res['correct']} failed={res['failed']}/"
                  f"{res['attempted']} loadavg={info['loadavg_1m']:.2f} "
                  f"passes={info['pass_walls']}", flush=True)
        rows = {}
        names = list(runs[0][1]["metrics"])
        print(f"\n## {w}: {len(runs)} runs, seeds {a.seeds}, trace {a.trace}")
        print(f"{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
        for n in names:
            xs = [r["metrics"][n]["value"] for _, r in runs]
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med if med else 0.0
            b = bounds.get(n)
            rows[n] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "values": xs,
                       "unit": runs[0][1]["metrics"][n]["unit"], "bound": b}
            print(f"{n:34} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} "
                  f"{'' if b is None else b:>6}")
        pooled = sorted(x for info, _ in runs for x in info["op_walls"])
        k = len(pooled)
        p90 = pooled[int(0.9 * k)] if k >= 100 else None
        loads = [info["loadavg_1m"] for info, _ in runs]
        oracle = [info["oracle_s"] for info, _ in runs if info.get("oracle_s") is not None]
        extra = {
            "op_p90_s": p90, "op_samples": k,
            "loadavg_1m_median": statistics.median(loads),
            "oracle_s_median": statistics.median(oracle) if oracle else None,
            "failed": sum(r["failed"] for _, r in runs),
            "attempted": sum(r["attempted"] for _, r in runs),
        }
        print(f"op_p90_s (pooled) = {p90} s over {k} samples; "
              f"loadavg median {extra['loadavg_1m_median']:.2f}; "
              f"DuckDB oracle median {extra['oracle_s_median']} s; "
              f"failed {extra['failed']}/{extra['attempted']}")
        if a.held_out is not None:
            info, res = one_run(w, a.held_out, spec["run_seconds"], a.trace)
            held = {n: res["metrics"][n]["value"] for n in names}
            extra["held_out"] = {"seed": a.held_out, "correct": res["correct"], "metrics": held}
            print(f"held-out seed {a.held_out}: " + ", ".join(
                f"{n} {held[n] / rows[n]['median']:.3f}x of median" for n in names
                if rows[n]["median"]))
        report[w] = {"metrics": rows, **extra}
        print(flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
