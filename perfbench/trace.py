"""Turns a raw trace (spans, Spark jobs, stages and plan timings, as Tracer.scala
writes them) into per-scope layer metrics.

Attribution is by time: a job, stage or plan belongs to the innermost span
open when it started. The load has one client, so only nested spans overlap.
A span's self time is its wall time minus the part its child spans cover.
"""

import statistics

SCOPE_METRICS = (
    "calls", "wall_s", "self_s", "driver_only_s", "jobs", "stages", "tasks",
    "sched_delay_s", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "plan.analysis_s", "plan.optimization_s", "plan.planning_s")


def merge(intervals):
    out = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        elif b > a:
            out.append([a, b])
    return out


def length(intervals):
    return sum(b - a for a, b in merge(intervals))


def intersect(xs, ys):
    """Intersection of two interval sets."""
    out, xs, ys = [], merge(xs), merge(ys)
    i = j = 0
    while i < len(xs) and j < len(ys):
        a, b = max(xs[i][0], ys[j][0]), min(xs[i][1], ys[j][1])
        if a < b:
            out.append([a, b])
        if xs[i][1] < ys[j][1]:
            i += 1
        else:
            j += 1
    return out


def self_regions(spans):
    """Per span id: the parts of its interval no child span covers."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        cut = merge(kids.get(s["id"], []))
        region, at = [], s["start"]
        for a, b in cut:
            if a > at:
                region.append([at, min(a, s["end"])])
            at = max(at, b)
        if at < s["end"]:
            region.append([at, s["end"]])
        out[s["id"]] = region
    return out


def innermost(spans, t):
    """The deepest span open at time t (ms), or None."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def aggregate(trace, devices=None):
    """Per-scope metrics summed over all traced passes, plus whole-run totals
    normalised per traced pass."""
    spans = trace["spans"]
    cores = trace["cores"]
    regions = self_regions(spans)
    scopes, own_jobs = {}, {}

    def scope(s):
        return scopes.setdefault(s["name"], {k: 0.0 for k in SCOPE_METRICS})

    for s in spans:
        m = scope(s)
        m["calls"] += 1
        m["wall_s"] += (s["end"] - s["start"]) / 1e3
        m["self_s"] += length(regions[s["id"]]) / 1e3
    for job_id, start, end in trace["jobs"]:
        s = innermost(spans, start)
        if s is not None:
            scope(s)["jobs"] += 1
            own_jobs.setdefault(s["id"], []).append((start, end if end >= start else start))
    by_id = {s["id"]: s for s in spans}
    for st in trace["stages"]:
        s = innermost(spans, st["submit"])
        if s is None:
            continue
        # Inclusive executor time: a streaming batch's stateful work runs in
        # the write job of its foreachBatch commit, a child span.
        up = s
        while up is not None:
            m = scope(up)
            m["executor_run_incl_s"] = m.get("executor_run_incl_s", 0.0) + st["run_ms"] / 1e3
            up = by_id.get(up["parent"])
        m = scope(s)
        m["stages"] += 1
        m["tasks"] += st["tasks"]
        m["sched_delay_s"] += st["sched_ms"] / 1e3
        m["executor_run_s"] += st["run_ms"] / 1e3
        m["executor_cpu_s"] += st["cpu_ns"] / 1e9
        m["gc_s"] += st["gc_ms"] / 1e3
        for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            m[k] += st[k]
    for start, analysis, optimization, planning in trace["plans"]:
        s = innermost(spans, start)
        if s is not None:
            m = scope(s)
            m["plan.analysis_s"] += analysis / 1e3
            m["plan.optimization_s"] += optimization / 1e3
            m["plan.planning_s"] += planning / 1e3
    for s in spans:
        busy = length(intersect(regions[s["id"]], own_jobs.get(s["id"], [])))
        scope(s)["driver_only_s"] += (length(regions[s["id"]]) - busy) / 1e3

    # Layer-specific counts the benchmark attached to its spans.
    for s in spans:
        m, a = scope(s), s["attrs"]
        for k in ("state_rows", "state_memory_bytes"):
            if k in a:
                m[k] = float(a[k])  # state size after the latest batch
        for k, v in a.items():
            if k.startswith("duration.") or k in ("files_written", "bytes_written", "rows",
                                                  "devices_with_new_work"):
                m[k] = m.get(k, 0.0) + float(v)
    for m in scopes.values():
        m["cores_busy"] = m["executor_run_s"] / (m["wall_s"] * cores) if m["wall_s"] else 0.0
        if m.get("rows"):
            m["bytes_per_row"] = m["bytes_written"] / m["rows"]
        if "devices_with_new_work" in m and devices:
            m["new_work_ratio"] = m["devices_with_new_work"] / (m["calls"] * devices)

    traced = [(b - a) / 1e3 for t, a, b in trace["passes"] if t]
    untraced = [(b - a) / 1e3 for t, a, b in trace["passes"] if not t]
    n = max(1, len(traced))
    roots = sum((s["end"] - s["start"]) / 1e3 for s in spans if s["parent"] < 0)
    totals = {k: sum(m[k] for m in scopes.values()) / n for k in SCOPE_METRICS
              if k not in ("calls", "wall_s", "self_s")}
    totals["cores_busy"] = totals["executor_run_s"] / (sum(traced) / n * cores) if traced else 0.0
    totals["unattributed_s"] = (sum(traced) - roots) / n
    totals["attributed_frac"] = roots / sum(traced) if traced else 0.0
    totals["trace_overhead_frac"] = (statistics.median(traced) / statistics.median(untraced) - 1
                                     if traced and untraced else 0.0)
    return {"scopes": scopes, "totals": totals, "traced_passes": len(traced)}
