import pytest

from perfbench.trace import (
    Tracer, collect_groups, parse_size, plan_fingerprint, streaming_progress,
)

AQE_PLAN = """\
== Physical Plan ==
AdaptiveSparkPlan (25)
+- == Final Plan ==
   ResultQueryStage (14)
   +- * Sort (13)
      +- AQEShuffleRead (12)
         +- ShuffleQueryStage (11), Statistics(sizeInBytes=1.0 KiB)
            +- Exchange (10)
               +- * HashAggregate (9)
                  +- * BroadcastHashJoin Inner BuildRight (8)
                     :- * Project (3)
                     :  +- ArrowEvalPython (2)
                     :     +- Scan parquet  (1)
                     +- BroadcastQueryStage (7)
                        +- BroadcastExchange (6)
                           +- * Filter (5)
                              +- Scan parquet  (4)
+- == Initial Plan ==
   Sort (24)
   +- Exchange (23)
      +- SortMergeJoin Inner (22)
         :- Exchange (20)
         +- Exchange (21)


(1) Scan parquet
Output [2]: [a#1, b#2]
"""

SIMPLE_PLAN = """\
== Physical Plan ==
*(3) Project [k#1]
+- CartesianProduct
   :- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=10]
   :  +- *(1) HashAggregate(keys=[], functions=[count(1)])
   +- *(2) SortMergeJoin [a#1], [b#2], Inner
      :- Exchange hashpartitioning(a#1, 32), ENSURE_REQUIREMENTS, [plan_id=11]
      :  +- MapInPandas decode(path#3)
      +- ReusedExchange [b#2], Exchange hashpartitioning(a#1, 32)
"""


def test_fingerprint_counts_only_the_final_aqe_plan():
    fp = plan_fingerprint(AQE_PLAN)
    assert fp == {"exchanges": 1, "smj": 0, "bhj": 1, "python_evals": 1,
                  "single_partition": 0, "cartesian": 0}


def test_fingerprint_simple_explain():
    fp = plan_fingerprint(SIMPLE_PLAN)
    # ReusedExchange is not a new shuffle; SinglePartition is one
    assert fp == {"exchanges": 2, "smj": 1, "bhj": 0, "python_evals": 1,
                  "single_partition": 1, "cartesian": 1}


def test_fingerprint_of_nothing():
    assert set(plan_fingerprint("").values()) == {0}


@pytest.mark.parametrize("text, want", [
    ("total (min, med, max (stageId: taskId))\n1.5 KiB (0.0 B, 0.5 KiB)", 1536),
    ("12 B", 12),
    ("2.0 MiB", 2 << 20),
    ("", 0),
    ("n/a", 0),
])
def test_parse_size(text, want):
    assert parse_size(text) == want


def test_streaming_progress_sums_batches_with_work():
    progress = [
        {"numInputRows": 4000, "durationMs": {"addBatch": 1500,
         "queryPlanning": 200, "walCommit": 30},
         "stateOperators": [{"commitTimeMs": 40, "numRowsTotal": 450}]},
        {"numInputRows": 1000, "durationMs": {"addBatch": 500,
         "queryPlanning": 100, "walCommit": 20},
         "stateOperators": [{"commitTimeMs": 10, "numRowsTotal": 500}]},
        {"numInputRows": 0, "durationMs": {"latestOffset": 3}},
    ]
    out = streaming_progress(progress)
    assert out["batches"] == 2
    assert out["add_batch_s"] == pytest.approx(2.0)
    assert out["planning_s"] == pytest.approx(0.3)
    assert out["wal_commit_s"] == pytest.approx(0.05)
    assert out["state_commit_s"] == pytest.approx(0.05)
    assert out["state_rows"] == 500


def test_disabled_tracer_records_nothing():
    tr = Tracer(None, enabled=False)
    with tr.span("x", group="g") as sp:
        assert sp is None
    assert tr.spans == []


def test_spans_nest_without_spark():
    tr = Tracer(None, enabled=True)
    with tr.span("outer"):
        with tr.span("inner", phase="cold"):
            pass
    outer, inner = tr.dump()
    assert inner["parent"] == outer["id"]
    assert outer["parent"] is None
    assert inner["phase"] == "cold"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


class FakeRest:
    """Canned UI REST answers: job 0 ran under the op's own group, job 1
    under a streaming query's runId, job 2 under an unrelated group."""

    RUN_ID = "6c1f3e0a-0000-4000-8000-000000000001"

    def settle(self):
        pass

    def get(self, path):
        if path == "/jobs":
            return [
                {"jobId": 0, "jobGroup": "pb1:cold:drain:exec", "stageIds": [0]},
                {"jobId": 1, "jobGroup": self.RUN_ID, "stageIds": [1, 2]},
                {"jobId": 2, "jobGroup": "other", "stageIds": [3]},
            ]
        if path.startswith("/stages?"):
            return [
                {"stageId": i, "attemptId": 0, "status": "COMPLETE",
                 "numTasks": 4, "executorRunTime": 1000,
                 "executorCpuTime": 5e8, "jvmGcTime": 10,
                 "shuffleReadBytes": 100, "shuffleWriteBytes": 200,
                 "memoryBytesSpilled": 0, "diskBytesSpilled": 0}
                for i in range(4)
            ]
        if "/taskList" in path:
            return [{"schedulerDelay": 5}] * 4
        if path.startswith("/sql?"):
            return [{"successJobIds": [1], "planDescription": SIMPLE_PLAN,
                     "nodes": []}]
        raise AssertionError(path)


def test_collect_groups_counts_streaming_jobs_under_the_op_group():
    group = "pb1:cold:drain:exec"
    alone = collect_groups(FakeRest(), {group})[group]
    assert (alone.jobs, alone.stages) == (1, 1)
    c = collect_groups(FakeRest(), {group}, {FakeRest.RUN_ID: group})[group]
    assert (c.jobs, c.stages, c.tasks) == (2, 3, 12)
    assert c.executor_run_s == pytest.approx(3.0)
    assert c.shuffle_write_bytes == 600
    assert c.plan["smj"] == 1
