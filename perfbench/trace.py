"""Spans, job groups and Spark's own counters for the traced run.

The tracer records a span around every call the benchmark makes into
the engine and tags the Spark jobs each call launches with a job group
of its own. After the measured window it reads, from outside the
engine, the live UI's REST API (jobs, stages, tasks and SQL executions
per job group) and parses each executed plan's shape. With tracing off
every span is a no-op.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

PLAN_KEYS = (
    "exchanges", "smj", "bhj", "python_evals", "single_partition", "cartesian",
)
_PY_NODE = re.compile(r"(EvalPython|InPandas|InArrow|PythonUDTF)")
# tree line: indent and branch marks, optional codegen mark "*(3) " or
# "* ", then the node name
_NODE_LINE = re.compile(r"^[\s:|+\-]*(?:\*(?:\(\d+\))?\s*)?([A-Za-z][A-Za-z0-9]*)(.*)$")


def _final_plan(text: str) -> str:
    """The physical plan AQE actually ran: the ``Final Plan`` section
    when present, else the ``Physical Plan`` section, else the text."""
    if "== Physical Plan ==" in text:
        text = text.split("== Physical Plan ==", 1)[1]
    if "== Final Plan ==" in text:
        text = text.split("== Final Plan ==", 1)[1]
        text = text.split("== Initial Plan ==", 1)[0]
    # formatted plans list node details after the tree: keep the tree
    return re.split(r"\n\s*\n\(1\) ", text, maxsplit=1)[0]


def plan_fingerprint(text: str) -> dict[str, int]:
    """Counts of the plan nodes that decide a query's shape, read from
    a physical plan string (simple or formatted explain)."""
    counts = dict.fromkeys(PLAN_KEYS, 0)
    for line in _final_plan(text).splitlines():
        m = _NODE_LINE.match(line)
        if not m:
            continue
        node, rest = m.group(1), m.group(2)
        if node == "Exchange":
            counts["exchanges"] += 1
            if "SinglePartition" in rest:
                counts["single_partition"] += 1
        elif node == "SortMergeJoin":
            counts["smj"] += 1
        elif node == "BroadcastHashJoin":
            counts["bhj"] += 1
        elif node == "CartesianProduct":
            counts["cartesian"] += 1
        elif _PY_NODE.search(node):
            counts["python_evals"] += 1
    return counts


_SIZE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size(value: str) -> int:
    """First size in a UI metric string ("total (min, med, max)\\n1.5
    KiB (...)") in bytes; 0 if there is none."""
    m = _SIZE.search(value or "")
    return int(float(m.group(1)) * _UNITS[m.group(2)]) if m else 0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    group: str | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans; tags the Spark jobs launched inside a span with
    the span's job group."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._groups = 0

    def new_group(self, label: str) -> str:
        self._groups += 1
        return f"pb{self._groups}:{label}"

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext if group else None
        outer = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        if sc:
            sc.setJobGroup(group, name)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, group, attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc:
                sc.setLocalProperty("spark.jobGroup.id", outer)

    def dump(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "group": s.group, **s.attrs}
            for i, s in enumerate(self.spans)
        ]


class RestClient:
    """Reads the live Spark UI's monitoring REST API (localhost)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until the UI's listener has caught up with every job."""
        end = time.time() + timeout
        while time.time() < end:
            jobs = self.get("/jobs")
            if not any(j["status"] == "RUNNING" for j in jobs):
                time.sleep(0.5)
                if len(self.get("/jobs")) == len(jobs):
                    return
            time.sleep(0.2)


@dataclass
class GroupCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    jvm_gc_s: float = 0.0
    scheduler_delay_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_bytes_sent: int = 0
    plan: dict = field(default_factory=lambda: dict.fromkeys(PLAN_KEYS, 0))


def collect_groups(rest: RestClient, groups: set[str],
                   alias: dict[str, str] | None = None) -> dict[str, GroupCounters]:
    """Spark's counters for each job group in ``groups``. ``alias`` maps
    a job group Spark set itself (a streaming query's runId) to the one
    of ``groups`` its jobs count for."""
    rest.settle()
    alias = alias or {}
    out = {g: GroupCounters() for g in groups}
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    for job in rest.get("/jobs"):
        g = job.get("jobGroup")
        g = alias.get(g, g)
        if g in out:
            job_group[job["jobId"]] = g
            out[g].jobs += 1
            for sid in job["stageIds"]:
                stage_group[sid] = g
    for st in rest.get("/stages?details=false"):
        g = stage_group.get(st["stageId"])
        if g is None or st["status"] not in ("COMPLETE", "FAILED"):
            continue
        c = out[g]
        c.stages += 1
        c.tasks += st["numTasks"]
        c.executor_run_s += st["executorRunTime"] / 1e3
        c.executor_cpu_s += st["executorCpuTime"] / 1e9
        c.jvm_gc_s += st["jvmGcTime"] / 1e3
        c.shuffle_read_bytes += st["shuffleReadBytes"]
        c.shuffle_write_bytes += st["shuffleWriteBytes"]
        c.spill_bytes += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        tasks = rest.get(
            f"/stages/{st['stageId']}/{st['attemptId']}/taskList?length=100000"
        )
        c.scheduler_delay_s += sum(t.get("schedulerDelay", 0) for t in tasks) / 1e3
    sql = rest.get("/sql?details=true&planDescription=true&offset=0&length=100000")
    for ex in sql:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
        gs = {job_group[j] for j in ids if j in job_group}
        if len(gs) != 1:
            continue
        c = out[gs.pop()]
        for k, v in plan_fingerprint(ex.get("planDescription", "")).items():
            c.plan[k] += v
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                if m.get("name") == "data sent to Python workers":
                    c.python_bytes_sent += parse_size(m.get("value", ""))
    return out


def streaming_progress(progress: list[dict]) -> dict[str, float]:
    """Sum a query's ``recentProgress`` into the streaming layer's
    counters (seconds, rows, batches)."""
    out = {"add_batch_s": 0.0, "planning_s": 0.0, "wal_commit_s": 0.0,
           "state_commit_s": 0.0, "state_rows": 0, "batches": 0}
    for p in progress:
        if not p.get("numInputRows") and not p.get("stateOperators"):
            continue
        d = p.get("durationMs", {})
        out["batches"] += 1
        out["add_batch_s"] += d.get("addBatch", 0) / 1e3
        out["planning_s"] += d.get("queryPlanning", 0) / 1e3
        out["wal_commit_s"] += d.get("walCommit", 0) / 1e3
        ops = p.get("stateOperators", [])
        out["state_commit_s"] += sum(o.get("commitTimeMs", 0) for o in ops) / 1e3
        out["state_rows"] = sum(o.get("numRowsTotal", 0) for o in ops)
    return out
