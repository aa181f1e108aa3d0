#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload core --seed 1 --seconds 8 --trace 0

Run from the repository root. It builds the program and the harness from
source (perfbench/build.sbt, skipped when nothing changed), generates the
workload's input tables from --seed, runs the harness in one JVM at
local[nproc], checks every timed query's output, from its first and its
second call, against its DuckDB oracle through scripts/selfcheck.py, and
prints, as the last line of stdout, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones,
from a run whose timed passes are traced. The full record of the run (per
query and per pass times, spans, counters, the count determinism report and
the check output) is kept in perfbench/.work/results/.

BENCHMARK.json lists the workloads and metrics; perfbench/README.md gives
their definitions and the reasons for them.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("core", "store")
# Input sizes, the same for every workload: (events, users, documents).
SIZES = (40_000, 150, 500)
# A run must end within 180 s of its start, not counting the build.
RUN_BUDGET_S = 175
CHECK_RESERVE_S = 20
BUILD_TIMEOUT_S = 800
# Spark 4 on JDK 17 needs these outside spark-submit (see the root build).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")]:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; skipped when the sources are
    unchanged since the last successful build."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    digest = sources_digest()
    if os.path.isdir(classes) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return classes
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "compile"], cwd=HERE, env=env, stdout=out,
                           stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def run_harness(classes, args, data, out, cpus, timeout):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # C1 only: in a run of under a minute the C2 compiler was still busy
    # through the timed passes, with about 58% of the CPU they used, at
    # times that differ run to run; C1 alone cut that to 12%, and the
    # spread of cpu_rel from about 0.2 to 0.08.
    cmd += ["-Xmx2g", "-XX:TieredStopAtLevel=1", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            f"-Dderby.system.home={tmp}",
            "-cp", f"{classes}:{os.path.join(os.environ['SPARK_HOME'], 'jars', '*')}",
            "perfbench.Harness", "--workload", args.workload,
            "--data", data, "--out", out, "--seconds", str(args.seconds),
            "--seed", str(args.seed), "--trace", str(args.trace),
            "--cpus", str(cpus)]
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, cwd=out, stdout=f, stderr=subprocess.STDOUT,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            fail("harness timed out")
    if r.returncode != 0 or not os.path.exists(os.path.join(out, "run.json")):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"harness exited with {r.returncode}")
    with open(os.path.join(out, "run.json")) as f:
        return json.load(f)


def check(data, results, timeout=120):
    """Compare each dumped result with its registry row's oracle through
    scripts/selfcheck.py. The quadratic families (here dedup_minhash_lsh)
    are checked by the linear invariants of scripts/scale_oracles.py, as at
    scale: their all-pairs oracle SQL takes 10 s even on these inputs.
    Returns {query: failure message} and the checker's output."""
    try:
        r = subprocess.run([sys.executable,
                            os.path.join(ROOT, "scripts", "selfcheck.py"),
                            "--scale-invariants", data, results],
                           capture_output=True, text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        fail("output check timed out")
    if r.returncode not in (0, 1):
        fail(f"output check exited with {r.returncode}:\n{r.stderr[-2000:]}")
    failed = parse_selfcheck(r.stdout)
    if r.returncode == 1 and not failed:
        fail(f"output check failed without naming a query:\n{r.stdout[-2000:]}")
    return failed, r.stdout + r.stderr


def parse_selfcheck(text):
    """{query: message} for each query selfcheck.py lists under FAIL, and
    each query it warns has no oracle and no rows."""
    failed, in_fail = {}, False
    for line in text.splitlines():
        if line.startswith("  WARN ") and line.endswith(": 0 rows"):
            failed[line.split()[1].rstrip(":")] = "no oracle and 0 rows"
        elif line.startswith("FAIL "):
            in_fail = True
        elif in_fail and line.startswith("  "):
            name, msg = line.strip().split(":", 1)
            failed[name] = msg.strip()
    return failed


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(run, ok):
    """Per query, the median over its timed samples. Wall and CPU times are
    divided by the reference time of the timed passes: the sum over the two
    reference queries (plain Spark, run between the workload's queries) of
    each one's median sample. That cancels most of this host's
    minute-to-minute speed swings. Set-up time is divided by the time of
    the reference queries' first runs, which end set-up: the result, in
    seconds, is the set-up time of a host on which those runs take 1 s."""
    def med(samples, key):
        return statistics.median(s[key] for s in samples)

    def reference(samples, key):
        return sum(med(s, key) for s in samples.values())

    wall = [med(run["samples"][q], "total_s") for q in ok]
    cpu = [med(run["samples"][q], "cpu_s") for q in ok]
    ref_wall = reference(run["reference"], "total_s")
    ref_cpu = reference(run["reference"], "cpu_s")
    raw = {"setup_s": run["setup_s"], "wall_s": sum(wall), "cpu_s": sum(cpu),
           "reference_s": ref_wall}
    return {
        "setup_s": (run["setup_s"] / reference(run["setup_reference"], "total_s"),
                    "s"),
        "wall_rel": (sum(wall) / ref_wall, "ratio"),
        "query_geomean_rel": (geomean(wall) / ref_wall, "ratio"),
        "cpu_rel": (sum(cpu) / ref_cpu, "ratio"),
        "live_heap_mb": (max(run["heap_mb"]), "MB"),
    }, raw


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind so the running child is killed and the run's
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}; run from a full checkout")
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME must name the Spark installation whose jars to use")
    os.makedirs(WORK, exist_ok=True)
    classes = build()
    deadline = time.time() + RUN_BUDGET_S
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    try:
        t0 = time.time()
        gen.generate(data, args.seed, *SIZES)
        t1 = time.time()
        run = run_harness(classes, args, data, run_dir, cpus,
                          deadline - CHECK_RESERVE_S - time.time())
        t2 = time.time()
        # both dumps are checked at once; the second call's failures go in
        # first, so a query failing both ways keeps its first failure
        timeout = max(5, deadline - time.time())
        with ThreadPoolExecutor(2) as pool:
            checks = [(prefix, results, pool.submit(
                check, data, os.path.join(run_dir, results), timeout))
                for results, prefix in (("results_repeat", "on its second call: "),
                                        ("results", ""))]
        mismatches, check_out = {}, ""
        for prefix, results, done in checks:
            failed, text = done.result()
            mismatches.update({q: prefix + m for q, m in failed.items()})
            check_out += f"== {results}\n{text}"
        t3 = time.time()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    names = [q["name"] for q in run["queries"]]
    failures = dict(mismatches)
    failures.update(run["errors"])
    ok = [q for q in names if q not in failures]
    if not ok:
        fail(f"every query failed: {failures}")
    record = {"args": vars(args), "failures": failures, "check": check_out,
              "run": run}
    metrics, raw = end_to_end(run, ok)
    record["raw_seconds"] = raw
    if args.trace:
        metrics = layers.per_layer(run, cpus)
        record["determinism"] = layers.count_determinism(run)
    record["metrics"] = {k: v for k, (v, _) in metrics.items()}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump(record, f)

    print(f"workload {args.workload} seed {args.seed}: "
          f"{len(run['passes'])} timed passes, "
          f"setup {raw['setup_s']:.2f} s, "
          f"host steal {run['steal_frac']:.3f}; pass {raw['wall_s']:.2f} s wall, "
          f"{raw['cpu_s']:.2f} s CPU, reference {raw['reference_s']:.2f} s; "
          f"gen {t1 - t0:.1f} s, harness {t2 - t1:.1f} s, check {t3 - t2:.1f} s")
    for q, msg in failures.items():
        print(f"FAILED {q}: {msg}")
    if args.trace and record["determinism"]:
        print("counts differ between passes: "
              + ", ".join(sorted(record["determinism"])))
    print(json.dumps({
        "correct": not failures,
        "attempted": len(names),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
