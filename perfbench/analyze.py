"""Turns the JVM report of one benchmark run into metrics.

Everything here is a pure function of the report (and of graft's source
tree, for the module map), so it is unit-tested without Spark.
"""
import os
import re
import statistics

# The layers are graft's modules: the directory under src/main/scala/graft
# a source file sits in. Files directly under graft/ are the command-line
# entry points. A new module directory must be added here; until it is,
# module_map() refuses the tree.
MODULE_DIRS = {
    "": "entry",
    "core": "core",
    "functions": "functions",
    "operators": "operators",
    "plans": "plans",
    "queries": "queries",
    "sources": "sources",
    "streaming": "streaming",
    "workflow": "workflow",
}
LAYERS = ("workflow", "sources", "operators", "functions", "core")
CALL_SITE = re.compile(r" at ([A-Za-z0-9_$]+\.(?:scala|java)):\d+")


def module_of(rel_path):
    """Module of a source path relative to src/main/scala/graft."""
    d = os.path.dirname(rel_path)
    if d not in MODULE_DIRS:
        raise ValueError(f"{rel_path}: directory '{d}' is not mapped to a module")
    return MODULE_DIRS[d]


def module_map(graft_src):
    """File name -> module for every .scala file under graft_src. Spark's
    call sites carry only the file name, so names must be unique."""
    out = {}
    for root, _, files in os.walk(graft_src):
        for f in files:
            if not f.endswith(".scala"):
                continue
            rel = os.path.relpath(os.path.join(root, f), graft_src)
            mod = module_of(rel)
            if f in out and out[f] != mod:
                raise ValueError(f"{f}: file name is in two modules ({out[f]}, {mod})")
            out[f] = mod
    return out


def tail_percentile(n):
    """The highest percentile of n samples with at least 10 samples
    beyond it, as a whole number, or None when n < 11."""
    if n < 11:
        return None
    return int(100 * (n - 10) // n)


def percentile(values, p):
    """Nearest-rank percentile (p in 0..100) of a non-empty list."""
    xs = sorted(values)
    k = max(1, -(-p * len(xs) // 100))  # ceil(p * n / 100)
    return xs[min(k, len(xs)) - 1]


def union(intervals):
    """Merge (start, end) intervals; returns sorted disjoint intervals."""
    merged = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return [tuple(m) for m in merged]


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def overlap(intervals, window):
    """Length of the union of intervals clipped to window (start, end)."""
    ws, we = window
    return length([(max(s, ws), min(e, we)) for s, e in intervals])


def call_tail(lat):
    """The tail latency: the highest percentile with at least 10 samples
    beyond it, or the slowest call when there are fewer than 11."""
    p = tail_percentile(len(lat))
    return percentile(lat, p) if p else max(lat)


def end_to_end(report):
    """End-to-end metrics of an untraced run: medians over timed passes."""
    passes = [p for p in report["passes"] if not p["warmup"]]
    lat = [c["end_ms"] - c["start_ms"] for p in passes for c in p["calls"]]
    return {
        "setup_s": (report["setup_s"], "s"),
        "wall_s": (pass_wall_s(passes), "s"),
        "call_p50_ms": (statistics.median(lat), "ms"),
        "call_tail_ms": (call_tail(lat), "ms"),
        "cpu_s": (statistics.median(p["cpu_ms"] / 1000 for p in passes), "s"),
        "peak_rss_mib": (report["peak_rss_mib"], "MiB"),
    }


def attribute(job, modules, span_layer):
    """Module a job is charged to. An SQL job is resolved through its
    execution's call site (AQE stage jobs name a JDK frame instead); an
    RDD job, such as an eager localCheckpoint, through its stage's. Jobs
    the benchmark's own code issues (forcing a lazy result) belong to the
    layer of the call that returned that result."""
    site = job["exec_desc"] if job["exec_id"] >= 0 and job["exec_desc"] else job["call_site"]
    m = CALL_SITE.search(site)
    f = m.group(1) if m else ""
    return modules.get(f, span_layer)


def is_checkpoint(job):
    return "checkpoint" in (job["call_site"] + " " + job["exec_desc"]).lower()


def pass_wall_s(passes):
    return statistics.median((p["end_ms"] - p["start_ms"]) / 1000 for p in passes)


def per_layer(report, modules):
    """Per-layer and run-wide metrics of a traced run: each value is the
    median over the traced timed passes of that pass's total. The run's
    untraced timed passes give the tracing overhead."""
    timed = [p for p in report["passes"] if not p["warmup"]]
    passes = [p for p in timed if p["traced"]]
    jobs = [j for j in report["jobs"] if j["end_ms"] >= j["start_ms"] >= 0]
    cpus = report["cpus"]
    rows = []
    for p in passes:
        window = (p["start_ms"], p["end_ms"])
        spans = [(c["layer"], c["start_ms"], c["end_ms"]) for c in p["calls"]]
        pj = [j for j in jobs if window[0] <= j["start_ms"] <= window[1]]

        def layer_at(t):
            for layer, s, e in spans:
                if s <= t <= e:
                    return layer
            return "harness"

        by_layer = {}
        for j in pj:
            by_layer.setdefault(attribute(j, modules, layer_at(j["start_ms"])), []).append(j)
        all_jobs = [(j["start_ms"], j["end_ms"]) for j in pj]
        row = {}
        for layer in LAYERS:
            lj = by_layer.get(layer, [])
            ls = [(s, e) for lay, s, e in spans if lay == layer]
            job_ms = length([(j["start_ms"], j["end_ms"]) for j in lj])
            run_ms = sum(j["run_ms"] for j in lj)
            row.update({
                f"{layer}.calls": (len(ls), "count"),
                f"{layer}.jobs": (len(lj), "count"),
                f"{layer}.tasks": (sum(j["tasks"] for j in lj), "count"),
                f"{layer}.span_ms": (sum(e - s for s, e in ls), "ms"),
                f"{layer}.driver_only_ms": (
                    sum(e - s - overlap(all_jobs, (s, e)) for s, e in ls), "ms"),
                f"{layer}.job_ms": (job_ms, "ms"),
                f"{layer}.task_cpu_ms": (sum(j["cpu_ns"] for j in lj) / 1e6, "ms"),
                f"{layer}.task_run_ms": (run_ms, "ms"),
                f"{layer}.core_util": (run_ms / (job_ms * cpus) if job_ms else 0.0, "ratio"),
                f"{layer}.shuffle_write_mib": (sum(j["shuffle_write"] for j in lj) / 2**20, "MiB"),
                f"{layer}.spill_mib": (sum(j["spill"] for j in lj) / 2**20, "MiB"),
                f"{layer}.input_mib": (sum(j["input"] for j in lj) / 2**20, "MiB"),
                f"{layer}.output_mib": (sum(j["output"] for j in lj) / 2**20, "MiB"),
            })
        wall = window[1] - window[0]
        active = overlap(all_jobs, window)
        run_ms = sum(j["run_ms"] for j in pj)
        accounted = sum(row[f"{l}.job_ms"][0] + row[f"{l}.driver_only_ms"][0] for l in LAYERS)
        row.update({
            "run.jobs": (len(pj), "count"),
            "run.stages": (sum(j["stages"] for j in pj), "count"),
            "run.tasks": (sum(j["tasks"] for j in pj), "count"),
            "run.failed_tasks": (sum(j["failed_tasks"] for j in pj), "count"),
            "run.sql_executions": (len({j["exec_id"] for j in pj if j["exec_id"] >= 0}), "count"),
            "run.checkpoint_jobs": (sum(1 for j in pj if is_checkpoint(j)), "count"),
            "run.driver_only_ms": (wall - active, "ms"),
            "run.job_active_ms": (active, "ms"),
            "run.planning_ms": (p["planning_ms"], "ms"),
            "run.codegen_compile_ms": (p["codegen_ms"], "ms"),
            "run.gc_ms": (p["gc_ms"], "ms"),
            "run.core_util": (run_ms / (active * cpus) if active else 0.0, "ratio"),
            "run.accounted_pct": (100.0 * accounted / wall, "%"),
            "run.steal_pct": (p["steal_pct"], "%"),
        })
        rows.append(row)
    out = {k: (statistics.median(r[k][0] for r in rows), rows[0][k][1]) for k in rows[0]}
    untraced = pass_wall_s([p for p in timed if not p["traced"]])
    out["run.trace_overhead_pct"] = (100.0 * (pass_wall_s(passes) / untraced - 1), "%")
    out["run.memo_collapsed_calls"] = (len(memo_collapses(report, jobs)), "count")
    return out


def memo_collapses(report, jobs):
    """Calls whose job count after the first pass falls below half of the
    first pass's: the signature of a fitted model memoized across passes.
    Needs the first (warm-up) pass to be traced."""
    counts = {}
    for p in report["passes"]:
        if not p["traced"]:
            continue
        for c in p["calls"]:
            n = sum(1 for j in jobs if c["start_ms"] <= j["start_ms"] <= c["end_ms"])
            counts.setdefault(c["name"], []).append((p["index"], n))
    out = []
    for name, xs in counts.items():
        xs.sort()
        if len(xs) > 1 and xs[0][0] == 0 and xs[0][1] >= 2 and min(n for _, n in xs[1:]) < xs[0][1] / 2:
            out.append(name)
    return out
