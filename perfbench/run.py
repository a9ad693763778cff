#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one JSON line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload registry_headline --seed 1 \
        --seconds 20 --trace 0

Builds the program and the benchmark's own classes from source into
.bench_build/ (scalac from the Spark distribution's jars, the same jars the
sbt build compiles against), generates the workload's inputs from the seed,
runs the workload in one JVM on local[N] with N = the CPUs this process may
use, checks every output against an independent DuckDB result, and prints
the metrics. --trace 0 prints the end-to-end metrics, --trace 1 the
per-layer metrics; see perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing beside the sources

import checks  # noqa: E402
import corpus  # noqa: E402

# input sizes per workload; "smoke" is the tiny set the smoke test runs
SIZES = {
    "full": {
        "corpus": dict(customers=150, orders=1500, parts=200, suppliers=10,
                       events=1000, documents=120, embeddings=150),
        "etl": "batches=3,tx=40",
        "commits": "cycles=1,rows=400",
    },
    "smoke": {
        "corpus": dict(customers=150, orders=1500, parts=200, suppliers=10,
                       events=1000, documents=100, embeddings=100),
        "etl": "batches=2,tx=30",
        "commits": "cycles=1,rows=100",
    },
}
# warm passes at least (more while --seconds lasts) and set-ups per run.
# The minimum is about --seconds' worth, so a slow run does not also take
# fewer passes and move its median towards the first, still warming one.
RUNS = {"registry_headline": dict(min_passes=2, setups=5),
        "registry_build": dict(min_passes=2, setups=3),
        "etl_medallion": dict(min_passes=4, setups=5),
        "table_commits": dict(min_passes=4, setups=3),
        "etl_commits": dict(min_passes=2, setups=5)}
WORKLOADS = list(RUNS)
TIME_LIMIT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """$SPARK_HOME/jars, else the jars directory the sbt build compiles against."""
    cands = [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]
    build_sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(build_sbt):
        with open(build_sbt) as f:
            cands += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    for c in cands:
        if os.path.isdir(c) and any(n.startswith("spark-core") for n in os.listdir(c)):
            return c
    fail("no Spark jars found: set SPARK_HOME")


def sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, jars):
    """Compile the program plus the benchmark classes; cached by source hash."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        fail("no program sources under src/main/scala; run from a checkout root")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()[:16]
    out = os.path.join(root, ".bench_build", "perfbench", stamp)
    if os.path.isdir(out):
        return out
    tmp = out + f".tmp{os.getpid()}"
    os.makedirs(tmp)
    listing = os.path.join(tmp, "sources.txt")
    with open(listing, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + listing],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("build failed:\n" + r.stdout[-4000:])
    os.rename(tmp, out)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def filesystem_of(path):
    """(fstype, device) of the mount holding path."""
    best = ("?", "?", "")
    path = os.path.realpath(path)
    with open("/proc/mounts") as f:
        for line in f:
            dev, mnt, fstype = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best[2]):
                best = (fstype, dev, mnt)
    return best[0], best[1]


def run_jvm(classes, jars, work, args, deadline):
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # C1 only, a fixed heap and the parallel collector: under C2 the compiler
    # threads keep about half the CPU busy for the first minute and each
    # pass runs ~15% faster than the one before, so a run of this length
    # never reaches a steady state; a growing G1 heap added run-to-run drift.
    # C1 only shrinks the code cache to 48 MB, which the code Spark generates
    # per query fills within a minute; the JVM then flushes every compiled
    # method at once and the pass that follows runs ~40% slower, so the
    # cache is given the tiered default back. Methods compile after a
    # twentieth of the usual calls, so the warm passes start warm.
    # Spark's cache of compiled generated classes keeps 100 by default,
    # fewer than one pass of either workload generates: each warm pass then
    # recompiled the classes its seeded op order had evicted, and an op's
    # latency flipped between two levels from pass to pass
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
           ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=240m", "-XX:CompileThresholdScaling=0.05",
            "-Dspark.sql.codegen.cache.maxEntries=2000",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:  # also on SIGTERM or Ctrl-C: never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else None


def op_medians(passes):
    """Each op's median wall over the passes. An op is known by its name and
    its occurrence in the pass (a commit cycle reads twice)."""
    walls = {}
    for p in passes:
        seen = {}
        for o in p["ops"]:
            k = (o["name"], seen.setdefault(o["name"], 0))
            seen[o["name"]] += 1
            walls.setdefault(k, []).append(o["wall"])
    return [median(v) for v in walls.values()]


def end_to_end(res, gen_times):
    warm = [p for p in res["passes"] if not p["traced"]]
    ops = [o["wall"] for p in warm for o in p["ops"]]
    setups = [g + s for g, s in zip(gen_times, res["setup_s"])]
    return {
        "setup_s": (median(setups), "s"),
        "pass_s": (median([p["wall"] for p in warm]), "s"),
        # the median op: each op's median over the warm passes first, so one
        # slow sample moves its own op and not the order of the pooled list
        "op_p50_s": (median(op_medians(warm)), "s"),
        "cpu_s": (median([p["cpu"] for p in warm]), "s"),
    }, ops


def coverage(p):
    """Share of a traced pass's op wall time that the traced spans cover."""
    walls = sum(o["wall"] for o in p["ops"])
    return p["layers"].get("trace.covered_s", 0.0) / walls if walls else 0.0


# Layer times that read 0 s on some workload: they exist on one workload
# only, or (GC, fetch wait) stay under the timer's resolution there. They are
# printed but kept out of BENCHMARK.json's per-layer set, because a time
# that never changes carries no measurement. The per-layer set carries
# these layers by counts, bytes and ratios instead.
LAYER_TIMES = ["queries.build_s", "driver.analyze_s", "exec.gc_s", "exchange.fetch_wait_s",
               "etl.silver_write_s", "etl.readback_s", "etl.gold_s", "etl.validate_s",
               "etl.driver_s", "sources.append_s", "sources.upsert_s", "sources.delete_dv_s",
               "sources.update_s", "sources.optimize_s", "sources.read_s"]


def build_share(p):
    walls = sum(o["wall"] for o in p["ops"])
    return sum(o["split"].get("build_s", 0) for o in p["ops"]) / walls if walls else 0.0


def per_layer(workload, res, names):
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    out = {}
    for name, unit in names:
        if name == "trace.overhead":
            v = median([p["wall"] for p in traced]) / median([p["wall"] for p in plain])
        elif name == "trace.coverage":
            v = median([coverage(p) for p in traced])
        elif name == "queries.build_share":
            v = median([build_share(p) for p in traced])
        else:
            v = median([p["layers"].get(name, 0.0) for p in traced])
        out[name] = (v, unit)
    return out


def per_query(res):
    """queries.<name>.build_s / .execute_s: medians over the warm passes."""
    acc = {}
    for p in res["passes"]:
        for o in p["ops"]:
            if o["kind"] == "query":
                for k in ("build_s", "execute_s"):
                    acc.setdefault(f"queries.{o['name']}.{k}", []).append(o["split"].get(k, 0.0))
    return {k: round(median(v), 6) for k, v in sorted(acc.items())}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--min-passes", type=int, default=None)
    ap.add_argument("--setups", type=int, default=None)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for k, v in RUNS[a.workload].items():
        if getattr(a, k) is None:
            setattr(a, k, v)
    start = time.time()
    deadline = start + TIME_LIMIT_S

    root = os.getcwd()
    bench_json = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(bench_json):
        fail("BENCHMARK.json not found; run from the checkout root")
    with open(bench_json) as f:
        spec = json.load(f)
    jars = spark_jars(root)
    classes = build(root, jars)
    deadline = max(deadline, time.time() + 150)  # the build does not eat the run's time

    size = SIZES[a.size]
    work = os.path.join(root, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        corpus_dir = os.path.join(work, "corpus")
        gen_times = [0.0] * a.setups
        if a.workload != "etl_medallion":
            for i in range(a.setups):  # same seed, same bytes: set-up is repeated, not varied
                t0 = time.time()
                corpus.generate(corpus_dir, a.seed, **size["corpus"])
                gen_times[i] = time.time() - t0
        sizes = {"registry_headline": "", "registry_build": "",
                 "etl_medallion": size["etl"], "table_commits": size["commits"],
                 "etl_commits": size["etl"] + "," + size["commits"]}[a.workload]
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--corpus", corpus_dir,
                "--cpus", str(cpus()), "--setups", str(a.setups),
                "--min-passes", str(a.min_passes), "--sizes", sizes]
        res = run_jvm(classes, jars, work, args, deadline)

        verdicts = checks.run(a.workload, res, corpus_dir)
        bad_ops = sum(1 for p in [res["cold"]] + res["passes"] for o in p["ops"] if not o["ok"])
        attempted = sum(len(p["ops"]) for p in [res["cold"]] + res["passes"])
        failed = min(attempted, bad_ops + verdicts["failed"])
        for p in [res["cold"]] + res["passes"]:
            for o in p["ops"]:
                if not o["ok"]:
                    print(f"FAIL op {o['name']}: {o['err']}", file=sys.stderr)
        for msg in verdicts["messages"]:
            print(msg, file=sys.stderr)

        e2e, op_walls = end_to_end(res, gen_times)
        fstype, dev = filesystem_of(work)
        n = len(op_walls)
        p90 = sorted(op_walls)[int(0.9 * n)] if n >= 100 else None
        info = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace, "cpus": res["cpus"],
            "warm_passes": len(res["passes"]), "ops_sampled": n,
            # one sample per process, so too noisy across runs for a bound
            "cold_pass_s": res["cold"]["wall"],
            "op_p90_s": p90 if p90 is not None else f"n/a: {n} samples, needs 100",
            "fail_ratio": failed / attempted, "checks_run": verdicts["checks"],
            "oracle_s": verdicts.get("oracle_s"), "loadavg_1m": os.getloadavg()[0],
            "outputs_fs": f"{fstype} on {dev} (the checkout's filesystem; inputs fit in memory,"
                          " so this measures CPU and scheduling, not a device)",
            "wall_s": round(time.time() - start, 2),
            "setup_walls": [round(g + s, 4) for g, s in zip(gen_times, res["setup_s"])],
            "pass_walls": [round(p["wall"], 4) for p in res["passes"]],
            "op_walls": [round(w, 4) for w in op_walls],
            "op_names": [o["name"] for p in res["passes"] if not p["traced"] for o in p["ops"]],
        }
        shown = {"cold_pass_s": (info["cold_pass_s"], "s")}
        if a.trace:
            info["per_query"] = per_query(res)
            layer_names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
            metrics = per_layer(a.workload, res, layer_names)
            shown.update(per_layer(a.workload, res, [(n, "s") for n in LAYER_TIMES]))
            info["layer_times"] = {k: v for k, (v, _) in shown.items() if k in LAYER_TIMES}
        else:
            metrics = e2e
        print("info " + json.dumps(info))
        for name, (v, unit) in {**metrics, **shown}.items():
            print(f"metric {name} = {v} {unit}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
