"""Turns a raw run record (written by perfbench.Main) into metrics.

End-to-end metrics come from untraced runs, per-layer metrics from traced
runs. Everything here is plain arithmetic over the record, so
test_metrics.py can check it without Spark.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
MAX_END_TO_END, MAX_PER_LAYER = 16, 128
MB = 1024.0 * 1024.0

DSARRAY_OPS = ["kmeans_fit", "gmm_fit", "tsqr", "matmul"]
GRAPH_OPS = ["cc", "kcore"]
GATE_GROUPS = ["gates.relational", "gates.temporal", "gates.text", "gates.ml"]
SCOPES = DSARRAY_OPS + GRAPH_OPS + GATE_GROUPS

# (counter, unit, scopes it is reported for)
COUNTERS = [
    ("jobs", "count", SCOPES),
    ("tasks", "count", SCOPES),
    ("task_cpu_s", "s", SCOPES),
    ("driver_self_s", "s", SCOPES),
    ("shuffle_write_mb", "MB", SCOPES),
    ("stages", "count", GRAPH_OPS + GATE_GROUPS),
    ("blocks_left", "count", GRAPH_OPS + GATE_GROUPS),
    ("planning_s", "s", GATE_GROUPS),
    ("sched_wait_s", "s", GATE_GROUPS),
    ("task_gc_s", "s", DSARRAY_OPS),
    ("gflops_computed", "GFLOP/s", DSARRAY_OPS),
    ("spill_mb", "MB", GRAPH_OPS),
    ("storage_mb_peak", "MB", GRAPH_OPS),
]
RUN_METRICS = [
    ("run.driver_gc_s", "s"),
    ("run.heap_used_mb_after", "MB"),
    ("run.blas_peak_gflops", "GFLOP/s"),
    ("run.drift_ratio", "ratio"),
    ("run.residue_mb", "MB"),
    ("run.trace_overhead", "ratio"),
    ("run.unattributed_job_share", "ratio"),
]
END_TO_END = [
    ("setup_s", "s"),
    ("first_pass_s", "s"),
    ("wall_s", "s"),
    ("op_p50_s", "s"),
    ("op_geomean_s", "s"),
]


def per_layer_names():
    """Every per-layer metric as (name, unit), in report order."""
    out = [(f"{scope}.{c}", unit) for c, unit, scopes in COUNTERS for scope in scopes]
    return out + RUN_METRICS


def tail_percentile(samples, beyond=10):
    """The highest nearest-rank percentile with at least `beyond` samples
    above its rank, as (percentile, value); None when there are too few."""
    n = len(samples)
    if n <= beyond:
        return None
    rank = n - beyond  # 1-based rank in ascending order
    return 100.0 * rank / n, sorted(samples)[rank - 1]


def covered(span, intervals):
    """Length of the part of `span` (start, end) covered by the union of
    `intervals`, which may overlap each other and stick out of the span."""
    lo, hi = span
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, child_intervals):
    """A span's duration minus the part its children cover."""
    return (span[1] - span[0]) - covered(span, child_intervals)


def flops(op, shape):
    """Analytic flop count of one call, from the sizes the check recorded.

    kmeans_fit: 2·n·k·d per Lloyd iteration (the distance GEMM).
    gmm_fit:    4·n·k·d² + 4·n·k·d per EM iteration (whitening GEMM in the
                E-step, weighted second moments in the M-step, means).
    tsqr:       4·m·n² (local Householder factorizations plus Q = A·R⁻¹).
    matmul:     2·m·k·n.
    """
    s = shape
    if op == "kmeans_fit":
        return 2.0 * s["n"] * s["k"] * s["d"] * s["iters"]
    if op == "gmm_fit":
        return (4.0 * s["n"] * s["k"] * s["d"] ** 2 + 4.0 * s["n"] * s["k"] * s["d"]) * s["iters"]
    if op == "tsqr":
        return 4.0 * s["m"] * s["n"] ** 2
    if op == "matmul":
        return 2.0 * s["m"] * s["k"] * s["n"]
    return 0.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def pass_wall(p):
    """Seconds the caller spent inside graft calls during one pass."""
    return sum(op["seconds"] for op in p["ops"])


def steady_calls(raw):
    """Seconds of every call in the steady passes (all but the first), by op."""
    per_op = {}
    for p in raw["passes"][1:]:
        for op in p["ops"]:
            per_op.setdefault(op["name"], []).append(op["seconds"])
    return per_op


def end_to_end(raw):
    passes = raw["passes"]
    steady = passes[1:]
    setup = raw["setup"]
    per_op = steady_calls(raw)
    calls = [t for ts in per_op.values() for t in ts]
    return {
        "setup_s": (setup["session_ready_ms"] - setup["jvm_start_ms"]) / 1e3
        - setup["probe_s"] + _median(setup["input_setup_s"]),
        "first_pass_s": pass_wall(passes[0]),
        "wall_s": _median([pass_wall(p) for p in steady]),
        "op_p50_s": _median(calls),
        "op_geomean_s": math.exp(statistics.fmean(
            math.log(_median(ts)) for ts in per_op.values())),
    }


def per_layer(raw):
    """Per-layer metrics of a traced run, plus the job time no op claimed.

    Counters are summed per scope within each traced steady pass, then the
    median over those passes is reported. Scopes the workload does not run
    report 0."""
    ev = raw["trace_events"]
    passes = raw["passes"]
    traced = [p for p in passes[1:] if p["traced"]]
    untraced = [p for p in passes[1:] if not p["traced"]]
    jobs_by_span, stages_by_span = {}, {}
    for j in ev["jobs"]:
        jobs_by_span.setdefault(j["span"], []).append(j)
    for s in ev["stages"]:
        stages_by_span.setdefault(s["span"], []).append(s)
    planning = ev["planning"]

    samples = {name: [] for name, _ in per_layer_names()}
    attributed_ms, unattributed_ms = 0.0, 0.0
    for p in traced:
        acc = {}
        t_lo = min(op["start_ms"] for op in p["ops"])
        t_hi = max(op["end_ms"] for op in p["ops"])
        for op in p["ops"]:
            a = acc.setdefault(op["scope"], {c: 0.0 for c, _, _ in COUNTERS})
            a.setdefault("_flops", 0.0)
            a.setdefault("_seconds", 0.0)
            jobs = jobs_by_span.get(op["span"], [])
            stages = stages_by_span.get(op["span"], [])
            ends = [(j["start_ms"], j["end_ms"]) for j in jobs if j["end_ms"] >= 0]
            attributed_ms += sum(e - s for s, e in ends)
            a["jobs"] += len(jobs)
            a["stages"] += len(stages)
            a["tasks"] += sum(s["tasks"] for s in stages)
            a["task_cpu_s"] += sum(s["cpu_ns"] for s in stages) / 1e9
            a["task_gc_s"] += sum(s["gc_ms"] for s in stages) / 1e3
            a["shuffle_write_mb"] += sum(s["shuffle_write_bytes"] for s in stages) / MB
            a["spill_mb"] += sum(s["spill_disk_bytes"] for s in stages) / MB
            a["sched_wait_s"] += sum(s["first_launch_ms"] - s["submit_ms"] for s in stages) / 1e3
            span = (op["start_ms"], op["end_ms"])
            a["driver_self_s"] += self_time(span, ends) / 1e3
            a["planning_s"] += sum(x["ms"] for x in planning
                                   if span[0] <= x["start_ms"] <= span[1]) / 1e3
            a["blocks_left"] += op["blocks_left"]
            a["storage_mb_peak"] = max(a["storage_mb_peak"], op["storage_peak_bytes"] / MB)
            a["_flops"] += flops(op["name"], op["shape"])
            a["_seconds"] += op["seconds"]
        for a in acc.values():
            a["gflops_computed"] = a["_flops"] / a["_seconds"] / 1e9 if a["_seconds"] else 0.0
        for c, _, scopes in COUNTERS:
            for scope in scopes:
                samples[f"{scope}.{c}"].append(acc.get(scope, {}).get(c, 0.0))
        samples["run.driver_gc_s"].append(p["driver_gc_ms"] / 1e3)
        unattributed_ms += sum(j["end_ms"] - j["start_ms"] for j in jobs_by_span.get("", [])
                               if j["end_ms"] >= 0 and t_lo <= j["start_ms"] <= t_hi)

    out = {name: _median(v) for name, v in samples.items() if v}
    walls_t = [pass_wall(p) for p in traced]
    walls_u = [pass_wall(p) for p in untraced]
    out["run.heap_used_mb_after"] = raw["heap_used_mb_after"]
    out["run.blas_peak_gflops"] = raw["stamp"]["blas_peak_gflops"]
    out["run.drift_ratio"] = walls_t[-1] / walls_t[0] if walls_t else 0.0
    out["run.residue_mb"] = raw["residue"]["bytes"] / MB
    out["run.trace_overhead"] = _median(walls_t) / _median(walls_u) if walls_u else 0.0
    total = attributed_ms + unattributed_ms
    out["run.unattributed_job_share"] = unattributed_ms / total if total else 0.0
    for name, _ in per_layer_names():
        out.setdefault(name, 0.0)
    return out, {"unattributed_job_s": unattributed_ms / 1e3, "job_s": total / 1e3}
