"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench/test_helpers.py -q
"""

from __future__ import annotations

import json
import os
import sys
from decimal import Decimal

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import common  # noqa: E402
from tracing import Tracer  # noqa: E402

# --------------------------------------------------------------------------
# tail percentile


@pytest.mark.parametrize("n, want", [
    (15, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert common.tail_percentile(n) == want
    if want is not None:
        assert round(n * (100 - want) / 100, 6) >= 10


def test_supported_tail_refuses_a_thin_tail():
    values = list(range(99))
    with pytest.raises(ValueError, match="p90 needs 100 samples"):
        common.supported_tail(values, 90)
    assert common.supported_tail(list(range(101)), 90) == pytest.approx(90.0)


def test_percentile_interpolates_like_numpy():
    np = pytest.importorskip("numpy")
    xs = [5.0, 1.0, 9.0, 3.0, 7.5, 2.25]
    for q in (10, 50, 90, 99):
        assert common.percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


# --------------------------------------------------------------------------
# span self time


def test_self_time_without_children_is_the_span():
    assert common.self_time((2.0, 5.0), []) == pytest.approx(3.0)


def test_self_time_counts_overlapping_children_once():
    children = [(1.0, 3.0), (2.0, 4.0), (2.5, 3.5)]
    assert common.self_time((0.0, 10.0), children) == pytest.approx(7.0)


def test_self_time_clips_children_to_the_span():
    children = [(-5.0, 1.0), (8.0, 12.0), (20.0, 30.0)]
    assert common.self_time((0.0, 10.0), children) == pytest.approx(7.0)


def test_tracer_records_parent_spans_and_overhead():
    tracer = Tracer()

    class Box:
        @staticmethod
        def inner(x):
            return x + 1

        @staticmethod
        def outer(x):
            return Box.inner(x) * 2

    tracer.patch(Box, "inner", "inner")
    tracer.patch(Box, "outer", "outer")
    assert Box.outer(1) == 4
    inner, outer = tracer.spans
    assert (inner["name"], outer["name"]) == ("inner", "outer")
    assert inner["parent"] == outer["id"] and inner["root"] == outer["id"]
    assert outer["parent"] is None
    assert outer["t0"] <= inner["t0"] <= inner["t1"] <= outer["t1"]
    assert tracer.overhead_s > 0


# --------------------------------------------------------------------------
# Spark REST metrics

SIZE = ("total (min, med, max (stageId: taskId))\n"
        "9.5 MiB (1.0 KiB, 2.0 KiB, 3.0 KiB (stage 1.0: task 2))")


@pytest.mark.parametrize("text, want", [
    ("7", 7.0),
    ("1,234", 1234.0),
    (SIZE, 9.5 * 2**20),
    ("total (min, med, max (stageId: taskId))\n120 ms (1 ms, 2 ms, 3 ms (stage 1.0: task 2))", 120.0),
    ("total (min, med, max)\n2.5 s (0.1 s, 0.2 s, 0.3 s)", 2500.0),
    ("12.0 B", 12.0),
])
def test_parse_sql_metric(text, want):
    assert common.parse_sql_metric(text) == pytest.approx(want)


def test_parse_sql_metric_rejects_unknown_units():
    with pytest.raises(ValueError):
        common.parse_sql_metric("3 furlongs")


EXECUTION = {
    "id": 4,
    "successJobIds": [7, 8],
    "failedJobIds": [],
    "runningJobIds": [],
    "nodes": [
        {"nodeName": "Scan parquet ", "metrics": [
            {"name": "number of files read", "value": "3"},
            {"name": "number of partitions read", "value": "2"},
            {"name": "number of output rows", "value": "1,000"},
            {"name": "size of files read", "value": SIZE},
        ]},
        {"nodeName": "Filter", "metrics": [
            {"name": "number of output rows", "value": "10"},
        ]},
        {"nodeName": "ArrowEvalPython", "metrics": [
            {"name": "data sent to Python workers", "value": SIZE},
            {"name": "data returned from Python workers", "value": "total (min, med, max)\n1.0 KiB (1 B, 2 B, 3 B)"},
        ]},
    ],
}


def test_sql_execution_totals_reads_scan_and_python_metrics():
    got = common.sql_execution_totals(EXECUTION)
    assert got == {
        "files_read": 3.0,
        "partitions_read": 2.0,
        "rows_scanned": 1000.0,
        "python_bytes": 9.5 * 2**20 + 1024.0,
    }


def test_stage_totals_skip_skipped_stages_and_sum_attempts():
    stages = [
        {"status": "COMPLETE", "executorRunTime": 10, "inputBytes": 100, "shuffleReadBytes": 5,
         "shuffleWriteBytes": 7, "diskBytesSpilled": 0, "numTasks": 4},
        {"status": "FAILED", "executorRunTime": 3, "inputBytes": 50, "numTasks": 4},
        {"status": "SKIPPED", "executorRunTime": 99, "inputBytes": 999, "numTasks": 8},
    ]
    got = common.stage_totals(stages)
    assert got == {"executor_run_ms": 13.0, "input_bytes": 150.0, "shuffle_bytes": 12.0,
                   "spill_bytes": 0.0, "tasks": 8.0}


def test_group_totals_follow_jobs_to_stages_and_executions():
    jobs = {7: {"stageIds": [1, 2]}, 8: {"stageIds": [3]}, 9: {"stageIds": [4]}}
    stages = {s: [{"status": "COMPLETE", "executorRunTime": s, "numTasks": 1}]
              for s in (1, 2, 3, 4)}
    other = dict(EXECUTION, successJobIds=[9])
    got = common.group_totals([7, 8], jobs, stages, [EXECUTION, other])
    assert got["jobs"] == 2.0
    assert got["executor_run_ms"] == 6.0 and got["tasks"] == 3.0
    assert got["files_read"] == 3.0  # only the execution that ran jobs 7 and 8


def test_add_totals_sums_key_by_key():
    got = common.add_totals([{"jobs": 2.0, "tasks": 3.0}, {"jobs": 1.0}, {}])
    assert got == {"jobs": 3.0, "tasks": 3.0}


def test_op_layers_gives_every_metric_of_every_workload():
    rows = [
        {"build": 0.2, "exec": 0.1, "build_jobs": 0, "jobs": 2, "tasks": 2,
         "executor_run_ms": 50, "input_bytes": 10, "files_read": 1,
         "shuffle_bytes": 0, "python_bytes": 0},
        {"build": 0.4, "exec": 1.5, "build_jobs": 3, "jobs": 5, "tasks": 8,
         "executor_run_ms": 900, "input_bytes": 30, "files_read": 30,
         "shuffle_bytes": 600, "python_bytes": 90},
        {"build": 0.3, "exec": 0.2, "build_jobs": 0, "jobs": 2, "tasks": 2},  # no SQL totals
    ]
    got = common.op_layers(rows)
    assert got["op.build_ms"] == {"value": pytest.approx(300.0), "unit": "ms"}
    assert got["op.exec_ms"]["value"] == pytest.approx(200.0)
    assert got["op.build_jobs"]["value"] == pytest.approx(1.0)  # a mean
    assert got["op.jobs"]["value"] == 2.0 and got["op.tasks"]["value"] == 2.0
    assert got["op.files_read"]["value"] == 1.0
    assert got["op.shuffle_bytes"]["value"] == pytest.approx(200.0)  # a mean
    assert got["op.python_bytes"]["value"] == pytest.approx(30.0)
    manifest = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            per_layer = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        op_names = {n: u for n, u in per_layer.items() if n.startswith("op.")}
        assert op_names == {n: m["unit"] for n, m in got.items()}


# --------------------------------------------------------------------------
# jobs during build, by job group


class FakeTracker:
    """statusTracker() as Spark behaves: a named group returns its
    jobs, None returns only the jobs run with no group set."""

    def __init__(self, jobs):
        self.jobs = jobs  # job id -> group or None

    def getJobIdsForGroup(self, group=None):
        return [j for j, g in self.jobs.items() if g == group]


def test_jobs_in_group_counts_the_named_group():
    tracker = FakeTracker({1: None, 2: "b:graph", 3: "b:graph", 4: "x:graph"})
    assert common.jobs_in_group(tracker, "b:graph") == [2, 3]
    assert common.jobs_in_group(tracker, "x:graph") == [4]


def test_jobs_in_group_refuses_no_group():
    # with no group, Spark reads only ungrouped jobs: a build that ran
    # 25 jobs under its own group would read as 0
    with pytest.raises(ValueError):
        common.jobs_in_group(FakeTracker({}), None)


def test_jobs_in_group_on_a_real_session():
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[1]").appName("perfbench-test")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    try:
        sc = spark.sparkContext
        sc.setJobGroup("perfbench-build", "build", False)
        spark.range(10).count()
        spark.range(5).collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        grouped = common.jobs_in_group(tracker, "perfbench-build")
        assert len(grouped) >= 2
        assert not set(grouped) & set(tracker.getJobIdsForGroup(None))
    finally:
        spark.stop()


# --------------------------------------------------------------------------
# result hashing, memo clearing, workload plans


def test_canonical_hash_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [2, 1], "v": [0.5, float("nan")]})
    b = pd.DataFrame({"v": [float("nan"), 0.5], "k": [1, 2]})
    assert common.canonical_hash(a) == common.canonical_hash(b)


def test_canonical_hash_keeps_ints_and_floats_apart():
    a = pd.DataFrame({"k": [1, 2]})
    b = pd.DataFrame({"k": [1.0, 2.0]})
    assert common.canonical_hash(a) != common.canonical_hash(b)


def test_canonical_hash_reads_decimals_as_floats():
    a = pd.DataFrame({"x": [Decimal("1.5"), Decimal("2.25")]})
    b = pd.DataFrame({"x": pd.Series([1.5, 2.25], dtype=object)})
    assert common.canonical_hash(a) == common.canonical_hash(b)


def test_clear_memos_fails_loudly(monkeypatch):
    pytest.importorskip("pyspark")
    import fossil_spark.operators.text as text

    import batch_main

    def broken():
        raise RuntimeError("memo left behind")

    monkeypatch.setattr(text, "bpe_chain_invalidate", broken)
    with pytest.raises(RuntimeError, match="memo left behind"):
        batch_main.clear_memos()


def test_every_batch_key_has_one_warm_up_lane():
    pytest.importorskip("pyspark")
    import batch
    import batch_main

    laned = [k for lane in batch_main.WARM_LANES for k in lane]
    assert sorted(laned) == sorted(batch.KEYS)


def test_ingest_plan_is_a_function_of_the_seed():
    pytest.importorskip("pyspark")
    import gen

    a = gen.ingest_plan(3, 4, 1000, 3, 10, 100)
    b = gen.ingest_plan(3, 4, 1000, 3, 10, 100)
    c = gen.ingest_plan(4, 4, 1000, 3, 10, 100)
    assert a == b and a != c
    burst, middle, tail = a
    assert sum(len(ops) for ops in burst) == 1000
    assert [op[0] for op in middle[0]].count("query") == 3
    assert sum(len(ops) for ops in tail) == 100


def test_metrics_mean_ms_reads_the_prometheus_text():
    import wire

    text = "\n".join([
        'fossil_requests{database="a",cmd="QUERY"} 3',
        'fossil_requests{database="b",cmd="QUERY"} 1',
        'fossil_requests{database="a",cmd="APPEND"} 10',
        'fossil_response_ns_sum{database="a",cmd="QUERY"} 3000000',
        'fossil_response_ns_sum{database="b",cmd="QUERY"} 5000000',
    ])
    assert wire.metrics_mean_ms(text, "QUERY") == pytest.approx(2.0)
