"""Pure arithmetic over a run's operations and spans: the tail
percentile rule, self time per layer, and the per-layer metrics."""
import math

STAGES = ("bronze", "silver", "quality", "gold", "audit")
# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def tail(values):
    """The highest candidate percentile with at least MIN_BEYOND samples
    beyond it, by the nearest-rank rule. Returns (percentile, value,
    samples beyond) or None when no percentile above the median has
    enough samples behind it."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        rank = math.ceil(p / 100 * n)
        if rank >= 1 and n - rank >= MIN_BEYOND:
            return p, xs[rank - 1], n - rank
    return None


def union_length(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
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


def job_spans(jobs, spans):
    """Turns finished Spark jobs into child spans of the innermost span
    that contains their start: layer "tables" for schema-inference jobs
    raised in graft.Tables, "exec" for every other job."""
    out = []
    for j in jobs:
        if j["end"] is None or math.isnan(j["end"]):
            continue
        inside = [s for s in spans if s["start"] <= j["start"] <= s["end"]]
        if not inside:
            continue
        parent = max(inside, key=lambda s: s["start"])
        out.append({"id": f"job{j['id']}", "parent": parent["id"],
                    "name": f"job {j['id']}", "layer": "tables" if j["tables"] else "exec",
                    "start": j["start"], "end": j["end"]})
    return out


def self_times(spans):
    """Self time of each span in seconds: its duration minus the part of
    it that its child spans cover. Returns {span id: seconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: ((s["end"] - s["start"])
                      - union_length(children.get(s["id"], []), s["start"], s["end"])) / 1e3
            for s in spans}


def layer_self_times(spans):
    """Self seconds summed per layer."""
    out = {}
    st = self_times(spans)
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


def _sum(spans, key):
    return sum(s["counters"].get(key, 0.0) for s in spans)


def per_layer(res, nproc, batch_rows=None):
    """Per-layer metrics of a traced run, each a mean per operation
    (ratios are ratios of totals)."""
    spans = res["spans"]
    jobs = job_spans(res.get("jobs", []), spans)
    every = spans + jobs
    layer_self = layer_self_times(every)
    roots = [s for s in spans if s["parent"] == -1]
    n = max(1, len(roots))
    by = {}
    for s in spans:
        by.setdefault(s["layer"], []).append(s)
    job_iv = [(j["start"], j["end"]) for j in jobs]

    def self_s(layer):
        return layer_self.get(layer, 0.0) / n

    def gap(layers):
        return sum((s["end"] - s["start"]) - union_length(job_iv, s["start"], s["end"])
                   for l in layers for s in by.get(l, [])) / 1e3 / n

    op_s = sum(s["end"] - s["start"] for s in roots) / 1e3
    run_s = _sum(roots, "task_run_ms") / 1e3
    m = {
        "tables.infer_jobs": _sum(roots, "tables_jobs") / n,
        "tables.infer_s": _sum(roots, "tables_job_ms") / 1e3 / n,
        "query.build_s": self_s("query"),
        "query.build_jobs": _sum(by.get("query", []), "jobs") / n,
        "plan.s": self_s("plan"),
        "codegen.compile_s": _sum(roots, "codegen_compile_ns") / 1e9 / n,
        "codegen.classes": _sum(roots, "codegen_classes") / n,
        "exec.driver_gap_s": gap(("exec",) + STAGES),
        "exec.jobs": _sum(roots, "jobs") / n,
        "exec.stages": _sum(roots, "stages") / n,
        "exec.tasks": _sum(roots, "tasks") / n,
        "exec.task_run_s": run_s / n,
        "exec.task_cpu_s": _sum(roots, "task_cpu_ns") / 1e9 / n,
        "exec.occupancy": run_s / (op_s * nproc) if op_s > 0 else 0.0,
        "exec.shuffle_read_mb": _sum(roots, "shuffle_read_bytes") / 1e6 / n,
        "exec.shuffle_write_mb": _sum(roots, "shuffle_write_bytes") / 1e6 / n,
        "exec.spill_mb": _sum(roots, "spill_bytes") / 1e6 / n,
        "jvm.gc_s": _sum(roots, "jvm_gc_ms") / 1e3 / n,
        "jvm.jit_s": _sum(roots, "jvm_jit_ms") / 1e3 / n,
    }
    for stage in STAGES:
        ss = by.get(stage, [])
        m[f"{stage}.s"] = sum(s["end"] - s["start"] for s in ss) / 1e3 / n
        m[f"{stage}.jobs"] = _sum(ss, "jobs") / n
        m[f"{stage}.rows_read"] = _sum(ss, "records_read") / n
        m[f"{stage}.rows_written"] = _sum(ss, "records_written") / n
        m[f"{stage}.bytes_written"] = _sum(ss, "fs_bytes_written") / n
    batch = sum(batch_rows.get(o["day"], 0) for o in res["ops"] if o.get("ok")) \
        if batch_rows else 0
    silver = by.get("silver", [])
    rewritten = _sum(silver, "records_written")
    m["silver.useful_ratio"] = batch / rewritten if rewritten else 0.0
    m["silver.history_read_ratio"] = _sum(silver, "bronze_scan_rows") / batch if batch else 0.0
    return m, layer_self

