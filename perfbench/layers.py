"""Per-layer metrics of the traced run, and its trace file.

Layers are the engine's modules: ``session``, ``fixtures``,
``queries`` (builder calls), ``ops`` (executed plans, from Spark's
counters), ``sources``, ``pipelines.buildings``, ``io`` and
``pipelines.streaming``; and per operation, its cold wall, steady
builder time and steady execution time. A layer or operation a workload
does not exercise reports 0.
"""

from __future__ import annotations

import json
import os

from perfbench import stats
from perfbench.trace import PLAN_KEYS, GroupCounters
from perfbench.workloads import WORKLOADS

_OPS_COUNTERS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("jvm_gc_s", "s"),
    ("scheduler_delay_s", "s"), ("shuffle_read_bytes", "B"),
    ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
    ("python_bytes_sent", "B"),
)
_STREAM = (
    ("add_batch_s", "s"), ("planning_s", "s"), ("wal_commit_s", "s"),
    ("state_commit_s", "s"), ("state_rows", "count"), ("batches", "count"),
)

# name → unit, in report order
PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "fixtures.generate_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_share": "ratio",
    "queries.cold_build_s": "s",
    "queries.cold_build_jobs": "count",
    "queries.cold_build_share": "ratio",
    "ops.exec_s": "s",
    **{f"ops.{k}": u for k, u in _OPS_COUNTERS},
    **{f"ops.plan.{k}": "count" for k in PLAN_KEYS},
    "ops.samples": "count",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "sources.shapefile.decode_s": "s",
    "sources.filegdb.decode_s": "s",
    "pipelines.buildings.convert_s": "s",
    "pipelines.buildings.merge_compact_s": "s",
    "pipelines.buildings.qa_s": "s",
    "io.bytes_written": "B",
    "io.files_written": "count",
    "io.row_groups_written": "count",
    **{f"pipelines.streaming.{k}": u for k, u in _STREAM},
    "peak_rss_mb": "MiB",
    "check.failed_frac": "ratio",
    "trace.overhead_frac": "ratio",
    # per operation: cold wall, steady builder call, steady execution
    **{name: "s" for w in WORKLOADS.values() for op in w.op_names
       for name in (f"queries.{op}.cold_s", f"queries.{op}.build_s",
                    f"ops.{op}.exec_s")},
}


def _sum_groups(groups: dict[str, GroupCounters], keys) -> GroupCounters:
    total = GroupCounters()
    for g in keys:
        c = groups.get(g)
        if c is None:
            continue
        for k, _ in _OPS_COUNTERS:
            setattr(total, k, getattr(total, k) + getattr(c, k))
        for k in PLAN_KEYS:
            total.plan[k] += c.plan[k]
    return total


def _pass_groups(ctx, label: str, phase: str) -> list[str]:
    return [g for g, (lb, _, ph) in ctx.groups.items()
            if lb == label and ph == phase]


def _median_or_0(values) -> float:
    values = list(values)
    return stats.median(values) if values else 0.0


def per_layer(ctx, layer, cold, cold_s, passes, split, groups, io, failed,
              attempted, peak_rss_mb) -> dict:
    steady_walls = [w for w, _, _ in passes]
    pass_s = stats.median(steady_walls)
    traced = [f"steady{i}" for i, (_, _, tr) in enumerate(passes) if tr]
    untraced = [w for w, _, tr in passes if not tr]
    traced_walls = [w for w, _, tr in passes if tr]

    build_s = stats.median([sum(s.build_s for s in ss) for _, ss, _ in passes])
    exec_s = stats.median([sum(s.exec_s for s in ss) for _, ss, _ in passes])
    cold_build_s = sum(s.build_s for s in cold)
    exec_totals = [_sum_groups(groups, _pass_groups(ctx, lb, "exec"))
                   for lb in traced]
    build_jobs = [_sum_groups(groups, _pass_groups(ctx, lb, "build")).jobs
                  for lb in traced]
    cold_build_jobs = _sum_groups(groups, _pass_groups(ctx, "cold", "build")).jobs

    m = {
        "session.start_s": layer["session.start_s"],
        "session.warmup_s": layer["session.warmup_s"],
        "fixtures.generate_s": layer["fixtures.generate_s"],
        "queries.build_s": build_s,
        "queries.build_jobs": _median_or_0(build_jobs),
        "queries.build_share": build_s / pass_s,
        "queries.cold_build_s": cold_build_s,
        "queries.cold_build_jobs": cold_build_jobs,
        "queries.cold_build_share": cold_build_s / cold_s,
        "ops.exec_s": exec_s,
    }
    for k, _ in _OPS_COUNTERS:
        m[f"ops.{k}"] = _median_or_0(getattr(t, k) for t in exec_totals)
    for k in PLAN_KEYS:
        m[f"ops.plan.{k}"] = _median_or_0(t.plan[k] for t in exec_totals)

    op_walls = [s.wall_s for _, ss, _ in passes for s in ss]
    m["ops.samples"] = len(op_walls)
    m["op_p50_s"] = stats.median(op_walls)
    m["op_p90_s"] = stats.percentile(op_walls, 90.0)

    def op_median(name, attr="wall_s"):
        return _median_or_0(getattr(s, attr) for _, ss, _ in passes
                            for s in ss if s.op == name)

    m.update(split)
    m["pipelines.buildings.qa_s"] = (
        op_median("heatmap") + op_median("hex_heatmap"))

    m["io.bytes_written"] = io.bytes
    m["io.files_written"] = io.files
    m["io.row_groups_written"] = io.row_groups

    drains = ctx.stream_runs[1:] or ctx.stream_runs
    for k, _ in _STREAM:
        m[f"pipelines.streaming.{k}"] = _median_or_0(d[k] for d in drains)

    for s in cold:
        m[f"queries.{s.op}.cold_s"] = s.wall_s
        m[f"queries.{s.op}.build_s"] = op_median(s.op, "build_s")
        m[f"ops.{s.op}.exec_s"] = op_median(s.op, "exec_s")

    m["peak_rss_mb"] = peak_rss_mb
    m["check.failed_frac"] = failed / attempted
    m["trace.overhead_frac"] = (
        stats.median(traced_walls) / stats.median(untraced) - 1.0
        if traced_walls and untraced else 0.0
    )
    return {k: {"value": float(m.get(k, 0.0)), "unit": u}
            for k, u in PER_LAYER.items()}


def write_trace(ctx, detail, metrics, groups, cold, passes) -> str:
    """Write the spans, the per-operation layer split and each job
    group's Spark counters; → the trace file's path."""
    per_op = {
        s.op: {
            "cold_build_s": s.build_s,
            "steady_s": [(x.build_s, x.exec_s) for _, ss, _ in passes
                         for x in ss if x.op == s.op],
            "groups": {
                f"{label}.{phase}": vars(groups[g])
                for g, (label, op, phase) in ctx.groups.items()
                if op == s.op and g in groups
            },
        }
        for s in cold
    }
    out_dir = os.path.join(os.path.dirname(ctx.run_dir), "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{detail['workload']}-s{ctx.seed}.json")
    with open(path, "w") as fh:
        json.dump({
            "detail": detail,
            "metrics": metrics,
            "streaming": ctx.stream_runs,
            "per_op": per_op,
            "spans": ctx.tracer.dump(),
        }, fh, indent=1)
    return path
