"""Statistics and the trace reducer.

`percentiles` applies the sample-count rule: a timing is reported as a
median plus the highest percentile that still has at least ten samples
beyond it, and as a median alone below forty samples.

`reduce_trace` turns a traced run's spans (name, start, end, parent, op)
and its per-job-group Spark totals into the per-layer metrics. Span names
are `<phase>:<label>`, phase one of build (the public call returns a
DataFrame), plan (executedPlan forced) or exec (actions); `op:<name>`
spans wrap one operation or set-up repetition.
"""

import math
import statistics

TAIL_CANDIDATES = (0.999, 0.99, 0.95, 0.9, 0.75)
PHASES = ("build", "plan", "exec")


def median(xs):
    return statistics.median(xs)


def gmean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def nearest_rank(xs, p):
    s = sorted(xs)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def tail_percentile(n):
    """The highest candidate percentile with >= 10 of n samples beyond it,
    or None when n < 40 (such a percentile would be no tail)."""
    if n < 40:
        return None
    for p in TAIL_CANDIDATES:
        if (1.0 - p) * n >= 10 - 1e-9:
            return p
    return None


def percentiles(xs):
    """{'n', 'p50'[, 'pXX']} for the samples xs."""
    out = {"n": len(xs), "p50": median(xs)}
    p = tail_percentile(len(xs))
    if p is not None:
        out[f"p{p * 100:g}"] = nearest_rank(xs, p)
    return out


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """span id -> duration minus the part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in children.get(s["id"], [])]
        covered = union_length([(a, b) for a, b in clipped if b > a])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# name -> (unit, how it is computed); every workload yields every one
PER_LAYER = {
    "call.build_ms": "ms", "call.plan_ms": "ms", "call.exec_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_ms": "ms", "spark.task_cpu_ms": "ms",
    "spark.deser_ms": "ms", "spark.gc_ms": "ms", "spark.busy_ratio": "ratio",
    "io.input_bytes": "bytes", "io.output_bytes": "bytes",
    "shuffle.write_bytes": "bytes", "shuffle.spill_bytes": "bytes",
    "mem.peak_exec_bytes": "bytes",
    "storage.persisted_rdds": "count", "storage.mem_bytes": "bytes",
    "setup.jobs": "count", "setup.task_run_ms": "ms",
}

GROUP_FIELDS = {
    "spark.jobs": "jobs", "spark.stages": "stages", "spark.tasks": "tasks",
    "spark.task_run_ms": "task_run_ms", "spark.task_cpu_ms": "task_cpu_ms",
    "spark.deser_ms": "deser_ms", "spark.gc_ms": "gc_ms",
    "io.input_bytes": "input_bytes", "io.output_bytes": "output_bytes",
    "shuffle.write_bytes": "shuffle_write_bytes",
    "shuffle.spill_bytes": "spill_bytes",
}


def _phase_ms(spans, selfs, op_ids):
    by_phase = {p: 0.0 for p in PHASES}
    for s in spans:
        phase = s["name"].split(":", 1)[0]
        if phase in by_phase and s["op"] in op_ids:
            by_phase[phase] += selfs[s["id"]] / 1e6
    return by_phase


def reduce_trace(result, spans):
    """Per-layer metrics for one traced run: per-operation means over the
    timed operations, the window-end storage state and set-up medians."""
    ops = result["ops"]
    groups = result.get("groups", {})
    cores = result["cores"]
    op_ids = {o["id"] for o in ops}
    n = max(1, len(ops))
    selfs = self_times(spans)
    phases = _phase_ms(spans, selfs, op_ids)
    m = {f"call.{p}_ms": phases[p] / n for p in PHASES}
    for name, field in GROUP_FIELDS.items():
        m[name] = sum(groups.get(o["id"], {}).get(field, 0) for o in ops) / n
    wall_ms = sum(o["wall_ms"] for o in ops)
    run_ms = sum(groups.get(o["id"], {}).get("task_run_ms", 0) for o in ops)
    m["spark.busy_ratio"] = run_ms / (wall_ms * cores) if wall_ms else 0.0
    m["mem.peak_exec_bytes"] = max(
        [groups.get(o["id"], {}).get("peak_exec_mem_bytes", 0) for o in ops] or [0])
    storage = result.get("storage", {})
    m["storage.persisted_rdds"] = storage.get("persisted_rdds", 0)
    m["storage.mem_bytes"] = storage.get("storage_mem_bytes", 0)
    setups = [g for k, g in groups.items() if k.startswith("setup")]
    m["setup.jobs"] = median([g["jobs"] for g in setups]) if setups else 0
    m["setup.task_run_ms"] = median([g["task_run_ms"] for g in setups]) if setups else 0
    return {k: {"value": m[k], "unit": PER_LAYER[k]} for k in PER_LAYER}


def op_report(result, spans):
    """The same measures split by operation class (medians per op), for
    reading where a workload's time goes; written beside the run."""
    groups = result.get("groups", {})
    selfs = self_times(spans)
    cores = result["cores"]
    report = {}
    for cls in sorted({o["cls"] for o in result["ops"]}):
        ops = [o for o in result["ops"] if o["cls"] == cls]
        ids = [o["id"] for o in ops]
        per = {"ops": len(ops), "wall_ms": median([o["wall_ms"] for o in ops])}
        for p in PHASES:
            per[f"{p}_ms"] = median([_phase_ms(spans, selfs, {i})[p] for i in ids])
        for field in ("jobs", "stages", "tasks", "task_run_ms", "gc_ms",
                      "input_bytes", "output_bytes", "shuffle_write_bytes",
                      "spill_bytes", "peak_exec_mem_bytes"):
            per[field] = median([groups.get(i, {}).get(field, 0) for i in ids])
        per["busy_ratio"] = median([
            groups.get(o["id"], {}).get("task_run_ms", 0) / (o["wall_ms"] * cores)
            for o in ops])
        report[cls] = per
    return report
