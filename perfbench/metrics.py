"""Metric derivation from a harness artifact (pure functions, unit-tested).

End-to-end metrics come from the untraced passes of a `--trace 0` run;
per-layer metrics from the traced passes of a `--trace 1` run. Units:
seconds (`s`), megabytes (`MB`, 2^20 bytes), counts, ratios.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
MB = float(1 << 20)

# name -> unit, in the order they are printed
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "live_heap_peak_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s", "tables.bucketed_setup_s": "s",
    "build.s": "s", "build.jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.plans": "count", "plans.rules_s": "s",
    "codegen.compile_s": "s", "codegen.classes": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.busy_frac": "ratio", "exec.job_wall_s": "s", "exec.driver_gap_s": "s",
    "exec.sched_delay_s": "s", "exec.stage_skew": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_mb": "MB",
    "scan.input_mb": "MB", "scan.input_rows": "count", "scan.time_s": "s",
    "scan.files": "count",
    "materialize.rdds": "count", "materialize.mb": "MB",
    "etl.stage_s": "s", "load.s": "s", "load.output_mb": "MB", "load.files": "count",
    "load.compact_s": "s",
    "streaming.batches": "count", "streaming.batch_s": "s",
    "trace_overhead": "ratio",
}

# per-layer metrics taken from the cold first pass, where they are paid
FIRST_PASS_LAYER = ("codegen.compile_s", "codegen.classes")
# per-pass reductions other than a sum
MAX_OVER_OPS = ("exec.stage_skew",)

# listener and op timestamps are wall-clock milliseconds
IDENTITY_TOLERANCE_S = 0.005


def percentile(values, q, min_beyond=10):
    """The q-quantile (0 < q < 1) of `values`, or None when fewer than
    `min_beyond` samples lie beyond it: a p90 needs at least 100 samples."""
    n = len(values)
    if n == 0 or n * (1.0 - q) < min_beyond - 1e-9:
        return None
    s = sorted(values)
    pos = q * (n - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def merge(intervals):
    """Union of [start, end] intervals as sorted disjoint intervals."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def covered_and_gaps(intervals, lo, hi):
    """Within [lo, hi]: total length covered by `intervals`, and total
    length of the uncovered gaps, each summed segment by segment."""
    covered, gaps, cursor = 0.0, 0.0, lo
    for s, e in merge(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        gaps += s - cursor if s > cursor else 0.0
        covered += e - s
        cursor = max(cursor, e)
    gaps += hi - cursor if hi > cursor else 0.0
    return covered, gaps


def outside_window(op, jobs, stages, queries):
    """Spans attributed to `op` that do not lie inside its [start, end]
    window: attribution errors, which a traced run counts as failures."""
    lo = op["start_ms"] - IDENTITY_TOLERANCE_S * 1e3
    hi = op["end_ms"] + IDENTITY_TOLERANCE_S * 1e3
    spans = ([("job", j) for j in jobs] + [("stage", s) for s in stages]
             + [("query", q) for q in queries if q["start_ms"] > 0])
    return [f"{kind} {s['start_ms']}-{s['end_ms']} ms" for kind, s in spans
            if s["start_ms"] < lo or s["end_ms"] > hi]


def op_layers(op, spans, cores):
    """Per-layer metrics of one traced operation, from its spans."""
    tag = op["tag"]
    jobs = [j for j in spans["jobs"] if j["op"] == tag]
    stages = [s for s in spans["stages"] if s["op"] == tag]
    queries = [q for q in spans["queries"] if q["op"] == tag]
    blocks = [b for b in spans["blocks"] if b["op"] == tag]
    start, build_end, end = op["start_ms"], op["build_end_ms"], op["end_ms"]
    batches = [p for p in spans["streaming"] if start <= p["ts_ms"] <= end]
    job_iv = [(j["start_ms"] / 1e3, j["end_ms"] / 1e3) for j in jobs]
    # job time after the build, not clipped at the op's end: a job that
    # outlives its op breaks the wall identity instead of vanishing
    job_wall, _ = covered_and_gaps(job_iv, build_end / 1e3, math.inf)
    _, gap = covered_and_gaps(job_iv, build_end / 1e3, end / 1e3)
    build_job_wall, _ = covered_and_gaps(job_iv, start / 1e3, build_end / 1e3)
    wall = op["wall_s"]
    task_s = sum(s["task_ms"] for s in stages) / 1e3
    sched = sum(s["sched_delay_ms"] for s in stages) / 1e3
    skews = [s["task_max_ms"] / s["task_median_ms"] for s in stages
             if s["tasks"] >= 2 and s["task_median_ms"] > 0]
    catalyst = lambda k: sum(q[k] for q in queries) / 1e3
    m = {
        "build.s": op["build_s"],
        "build.jobs": sum(1 for j in jobs if j["start_ms"] <= build_end),
        "catalyst.analysis_s": catalyst("analysis_ms"),
        "catalyst.optimization_s": catalyst("optimization_ms"),
        "catalyst.planning_s": catalyst("planning_ms"),
        "catalyst.plans": len(queries),
        "plans.rules_s": sum(q["plans_rule_ns"] for q in queries) / 1e9,
        "codegen.compile_s": op["codegen_compile_s"],
        "codegen.classes": op["codegen_classes"],
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.task_s": task_s,
        "exec.cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "exec.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "exec.busy_frac": task_s / (cores * wall) if wall > 0 else 0.0,
        "exec.job_wall_s": job_wall,
        "exec.driver_gap_s": gap,
        "exec.sched_delay_s": sched,
        "exec.stage_skew": max(skews, default=1.0),
        "shuffle.write_mb": sum(s["shuffle_write_bytes"] for s in stages) / MB,
        "shuffle.read_mb": sum(s["shuffle_read_bytes"] for s in stages) / MB,
        "shuffle.fetch_wait_s": sum(s["fetch_wait_ms"] for s in stages) / 1e3,
        "shuffle.spill_mb": sum(s["spill_bytes"] for s in stages) / MB,
        "scan.input_mb": sum(q["scan_bytes"] for q in queries) / MB,
        "scan.input_rows": sum(q["scan_rows"] for q in queries),
        "scan.time_s": sum(q["scan_time_ms"] for q in queries) / 1e3,
        "scan.files": sum(q["scan_files"] for q in queries),
        "materialize.rdds": len({b["rdd"] for b in blocks}),
        "materialize.mb": sum(b["bytes"] for b in blocks) / MB,
        "etl.stage_s": op["stage_s"],
        "load.s": op["load_s"] + op["compact_s"],
        "load.output_mb": op["load_output_bytes"] / MB,
        "load.files": op["load_files"],
        "load.compact_s": op["compact_s"],
        "streaming.batches": len(batches),
        "streaming.batch_s": sum(p["trigger_ms"] for p in batches) / 1e3,
    }
    # Catalyst work of the action's own plans happens in the driver gap
    action_catalyst = min(gap, sum(
        q["analysis_ms"] + q["optimization_ms"] + q["planning_ms"]
        for q in queries if q["start_ms"] >= build_end) / 1e3)
    shares = {
        "planning": (op["build_s"] - build_job_wall) + action_catalyst,
        "jobs": (gap - action_catalyst) + sched / cores,
        "compute": build_job_wall + job_wall - sched / cores,
    }
    check = {"identity_residual_s": op["build_s"] + gap + job_wall - wall,
             "outside_window": outside_window(op, jobs, stages, queries)}
    return m, bound_label(shares), check


def bound_label(shares):
    """`planning` or `jobs` when that share is the largest, else `compute`."""
    top = max(shares, key=shares.get)
    return top if top in ("planning", "jobs") else "compute"


def pass_layers(pass_, spans, cores):
    """Per-op layer rows of one traced pass and the pass totals."""
    rows, totals = [], {}
    for op in pass_["ops"]:
        m, label, check = op_layers(op, spans, cores)
        rows.append({"op": op["op"], "tag": op["tag"], "wall_s": op["wall_s"],
                     "bound": label, **check, **m})
        for k, v in m.items():
            totals[k] = max(totals.get(k, v), v) if k in MAX_OVER_OPS else totals.get(k, 0) + v
    task_s = sum(r["exec.task_s"] for r in rows)
    totals["exec.busy_frac"] = task_s / (cores * pass_["wall_s"]) if pass_["wall_s"] > 0 else 0.0
    return rows, totals


def op_failed(op):
    bad_time = not (isinstance(op["wall_s"], (int, float)) and math.isfinite(op["wall_s"]))
    return op["error"] is not None or bad_time or (
        op["sink"] != "Noop" and op["load_files"] == 0)


def end_to_end(artifact):
    passes = artifact["passes"]
    warm = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    first = [p for p in passes if p["kind"] == "first"][0]
    warm_ops = [o["wall_s"] for p in warm for o in p["ops"] if not op_failed(o)]
    metrics = {
        "setup_s": artifact["setup"]["setup_s"],
        "wall_s": statistics.median(p["wall_s"] for p in warm),
        "op_p50_s": statistics.median(warm_ops),
        "live_heap_peak_mb": artifact["live_heap_peak_bytes"] / MB,
    }
    # reported, not declared: one cold sample per run is too noisy to bound
    extra = {"first_pass_s": first["wall_s"], "op_samples": len(warm_ops),
             "warm_passes": len(warm), "op_p90_s": percentile(warm_ops, 0.9)}
    return metrics, extra


def per_layer(artifact):
    """Per-layer metrics of a traced run: the median over traced warm passes
    of each pass total; codegen from the cold first pass; set-up layers from
    the set-up; `trace_overhead` = median traced warm pass wall over median
    untraced warm pass wall."""
    cores, spans, passes = artifact["cores"], artifact["spans"], artifact["passes"]
    first = [p for p in passes if p["kind"] == "first"][0]
    traced = [p for p in passes if p["kind"] == "warm" and p["traced"]]
    untraced = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    ops, totals = [], []
    for p in [first] + traced:
        rows, t = pass_layers(p, spans, cores)
        ops += [dict(r, pass_kind=p["kind"]) for r in rows]
        if p is not first:
            totals.append(t)
    _, first_totals = pass_layers(first, spans, cores)
    metrics = {k: statistics.median(t[k] for t in totals) for k in totals[0]}
    for k in FIRST_PASS_LAYER:
        metrics[k] = first_totals[k]
    metrics["session.start_s"] = artifact["setup"]["session_s"]
    metrics["tables.bucketed_setup_s"] = artifact["setup"]["bucketed_s"]
    metrics["trace_overhead"] = (statistics.median(p["wall_s"] for p in traced) /
                                 statistics.median(p["wall_s"] for p in untraced))
    return metrics, ops


def validate_result(result, names):
    """Raise ValueError unless `result` is a well-formed result line whose
    metrics are exactly `names` (name -> unit)."""
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(result)}")
    if not isinstance(result["correct"], bool):
        raise ValueError("correct must be a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(result[k], int) or isinstance(result[k], bool) or result[k] < 0:
            raise ValueError(f"{k} must be a whole number")
    if result["attempted"] < 1 or result["failed"] > result["attempted"]:
        raise ValueError("attempted must be at least 1 and at least failed")
    if set(result["metrics"]) != set(names):
        raise ValueError(f"metrics {sorted(result['metrics'])} != {sorted(names)}")
    for name, m in result["metrics"].items():
        if not NAME_RE.fullmatch(name):
            raise ValueError(f"bad metric name {name!r}")
        if set(m) != {"value", "unit"} or m["unit"] != names[name]:
            raise ValueError(f"bad metric entry {name}: {m}")
        v = m["value"]
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            raise ValueError(f"metric {name} is not a finite number: {v!r}")
