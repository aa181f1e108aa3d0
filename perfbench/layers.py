"""Per-layer metrics of a traced run.

The harness records, for each timed pass, a span per query with a `build`
child (the call into graft.ts / graft.llm / graft.ts.Sources that returns
the DataFrame, including any jobs it runs eagerly) and an `exec` child (the
noop write that materialises it). Job, stage and task counters are
attributed to the child span whose id the jobs carried as job group. Each
executed query plan is reported by a QueryExecutionListener with its
planning phases and final-plan operator counts, and is matched here to the
span it ran in by time; its optimisation and physical planning phases are
the `plan` spans of the trace. Every metric is a per-pass figure, the
median over the run's complete traced passes, except the peaks, which are
maxima, and the tracer's cost, which weighs traced passes against the
untraced passes of the same run.
"""
import statistics
from collections import defaultdict

MB = 1048576.0
LAYERS = ("ts", "llm", "sources")
PLAN_KEYS = ("exchanges", "sorts", "broadcasts", "reused_exchanges",
             "generates", "asof_merge_joins", "non_codegen_ops")
PLAN_PHASES = ("optimization", "planning")


def _attach_executions(trace):
    """Map each executed plan to the build/exec span it started in."""
    spans = sorted((s for s in trace["spans"] if s["kind"] != "query"),
                   key=lambda s: s["start_ms"])
    out = defaultdict(list)
    for e in trace["executions"]:
        phases = e["phases"].values()
        if not phases:
            continue
        t = min(p["start_ms"] for p in phases)
        for s in spans:
            if s["start_ms"] <= t <= s["end_ms"]:
                out[s["id"]].append(e)
                break
    return out


def _plan_s(executions):
    return sum((e["phases"][k]["end_ms"] - e["phases"][k]["start_ms"]) / 1e3
               for e in executions for k in PLAN_PHASES if k in e["phases"])


def pass_figures(run, cpus):
    """Per-layer figures of each traced pass, as {pass: {metric: value}}."""
    trace = run["trace"]
    layer = {q["name"]: q["layer"] for q in run["queries"]}
    execs = _attach_executions(trace)
    counters = trace["counters"]
    figures = {}
    for i, p in enumerate(run["passes"], start=1):
        if not (p["complete"] and p["traced"]):
            continue
        f = defaultdict(float)
        for lay in LAYERS:
            f[f"{lay}.build_s"] = 0.0
            f[f"{lay}.build_jobs"] = 0.0
        for k in PLAN_KEYS:
            f[f"plan.{k}"] = 0.0
        for s in trace["spans"]:
            if s["pass"] != i or s["kind"] == "query":
                continue
            c = counters.get(s["id"], {})
            ex = execs.get(s["id"], [])
            plan_s = _plan_s(ex)
            f["catalyst.plan_s"] += plan_s
            if s["kind"] == "build":
                f[f"{layer[s['query']]}.build_s"] += s["dur_s"]
                f[f"{layer[s['query']]}.build_jobs"] += c.get("jobs", 0)
            else:
                f["exec.s"] += s["dur_s"] - plan_s
            for e in ex:
                for k in PLAN_KEYS:
                    f[f"plan.{k}"] += e["plan"].get(k, 0)
            f["scheduler.jobs"] += c.get("jobs", 0)
            f["scheduler.stages"] += c.get("stages", 0)
            f["scheduler.tasks"] += c.get("tasks", 0)
            f["scheduler.task_wait_s"] += c.get("task_wait_ms", 0) / 1e3
            f["scheduler.failed_tasks"] += c.get("failed_tasks", 0)
            f["exec.task_run_s"] += c.get("task_run_ms", 0) / 1e3
            f["exec.task_cpu_s"] += c.get("task_cpu_ns", 0) / 1e9
            f["exec.gc_s"] += c.get("gc_ms", 0) / 1e3
            f["_task_wall_s"] += c.get("task_wall_ms", 0) / 1e3
            f["_stage_max_ms"] += c.get("stage_max_ms", 0)
            f["_stage_mean_ms"] += c.get("stage_mean_ms", 0)
            f["shuffle.write_mb"] += c.get("shuffle_write_bytes", 0) / MB
            f["shuffle.read_mb"] += c.get("shuffle_read_bytes", 0) / MB
            f["shuffle.records"] += c.get("shuffle_records", 0)
            f["io.input_rows"] += c.get("input_rows", 0)
            f["io.input_mb"] += c.get("input_bytes", 0) / MB
            f["io.output_mb"] += c.get("output_bytes", 0) / MB
            f["exec.spill_mb"] += c.get("spill_bytes", 0) / MB
            f["exec.peak_task_mem_mb"] = max(f["exec.peak_task_mem_mb"],
                                             c.get("peak_task_mem", 0) / MB)
        f["exec.slot_idle_frac"] = 1.0 - f.pop("_task_wall_s") / (cpus * p["wall_s"])
        mx, mean = f.pop("_stage_max_ms"), f.pop("_stage_mean_ms")
        f["exec.task_skew"] = mx / mean if mean else 1.0
        f["shuffle.amplification"] = (f["shuffle.write_mb"] / f["io.input_mb"]
                                      if f["io.input_mb"] else 0.0)
        figures[i] = dict(f)
    return figures


UNITS = {"_s": "s", "_mb": "MB", "_frac": "fraction", ".s": "s"}


def unit(name):
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "ratio" if name in ("exec.task_skew", "shuffle.amplification") \
        else "count"


def per_layer(run, cpus):
    figures = list(pass_figures(run, cpus).values())
    metrics = {}
    for k in figures[0]:
        vals = [f[k] for f in figures]
        metrics[k] = max(vals) if k == "exec.peak_task_mem_mb" \
            else statistics.median(vals)
    walls = {t: [p["wall_s"] for p in run["passes"]
                 if p["complete"] and p["traced"] == t] for t in (True, False)}
    metrics["host.steal_frac"] = run["steal_frac"]
    metrics["trace.overhead_frac"] = (statistics.median(walls[True])
                                      / statistics.median(walls[False]) - 1)
    traced_s = sum(p["wall_s"] for p in run["passes"] if p["traced"])
    metrics["trace.callback_frac"] = run["trace"]["overhead_s"] / traced_s
    return {k: (v, unit(k)) for k, v in sorted(metrics.items())}


def count_determinism(run):
    """Jobs, stages and tasks of each query in each traced pass; returns the
    queries whose counts differ between passes, with their per-pass
    counts."""
    counts = defaultdict(dict)
    for s in run["trace"]["spans"]:
        if s["kind"] == "query":
            continue
        c = run["trace"]["counters"].get(s["id"], {})
        prev = counts[s["query"]].get(s["pass"], (0, 0, 0))
        counts[s["query"]][s["pass"]] = (prev[0] + c.get("jobs", 0),
                                         prev[1] + c.get("stages", 0),
                                         prev[2] + c.get("tasks", 0))
    return {q: {str(p): dict(zip(("jobs", "stages", "tasks"), v))
                for p, v in sorted(per.items())}
            for q, per in counts.items() if len(set(per.values())) > 1}
