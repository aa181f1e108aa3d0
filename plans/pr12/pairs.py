#!/usr/bin/env python3
"""Alternating perfbench pairs: parent checkout vs change checkout.

    python3 plans/pr12/pairs.py --parent DIR --change DIR --workload core \
        --seeds 1211-1220 --out plans/pr12/perfbench_pairs_core.json

Each pair runs `python3 perfbench/run.py --workload W --seed S --seconds 10
--trace 0` once in each checkout, one after the other; odd pairs run the
parent first, even pairs the change first. Both checkouts build their own
program from source. The JSON keeps every run's end-to-end metrics and
per-query median times (the reference queries included, as controls), and a
summary per metric: quartiles of each side, how many pairs the change won,
and the median change in percent.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

METRICS = ("setup_s", "wall_rel", "query_geomean_rel", "cpu_rel", "live_heap_mb")


def run_one(checkout, workload, seed, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "10", "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
    res = json.loads(last)
    path = os.path.join(checkout, "perfbench", ".work", "results",
                        f"{workload}-seed{seed}-trace{trace}.json")
    per_query = {}
    if os.path.exists(path):
        run = json.load(open(path))["run"]
        for name, samples in list(run["samples"].items()) + list(run["reference"].items()):
            per_query[name] = round(statistics.median(s["total_s"] for s in samples), 4)
    return {"correct": res.get("correct"), "attempted": res.get("attempted"),
            "failed": res.get("failed"),
            "metrics": {k: v["value"] for k, v in res.get("metrics", {}).items()},
            "query_median_s": per_query}


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return [round(q[0], 4), round(q[1], 4), round(q[2], 4)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    pairs = []
    for i, seed in enumerate(range(lo, hi + 1)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_one(getattr(a, side), a.workload, seed, a.trace)
            print(seed, side, {k: pair[side]["metrics"].get(k) for k in METRICS},
                  flush=True)
        pairs.append(pair)
        json.dump({"pairs": pairs}, open(a.out, "w"), indent=1)
    summary = {}
    for m in METRICS:
        p = [x["parent"]["metrics"][m] for x in pairs]
        c = [x["change"]["metrics"][m] for x in pairs]
        summary[m] = {
            "parent_q1_median_q3": quartiles(p),
            "change_q1_median_q3": quartiles(c),
            "change_wins": sum(1 for x, y in zip(p, c) if y < x),
            "pairs": len(pairs),
            "median_change_pct": round(
                100 * (statistics.median(c) / statistics.median(p) - 1), 1)}
    names = sorted(pairs[0]["parent"]["query_median_s"])
    per_query = {n: {
        "parent_median_s": round(statistics.median(
            x["parent"]["query_median_s"][n] for x in pairs), 4),
        "change_median_s": round(statistics.median(
            x["change"]["query_median_s"][n] for x in pairs), 4)} for n in names}
    cmd = f"python3 perfbench/run.py --workload {a.workload} --seed <s> --seconds 10 --trace {a.trace}"
    json.dump({"command": cmd, "summary": summary, "per_query": per_query,
               "pairs": pairs}, open(a.out, "w"), indent=1)
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()
