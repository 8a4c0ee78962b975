"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import inputs  # noqa: E402
import metrics  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _event(kind: str, **kw) -> str:
    # Spark writes compact JSON, one event per line, "Event" first
    return json.dumps({"Event": kind, **kw}, separators=(",", ":"))


def _task(stage: int, run_ms: int, cpu_ns: int, ok: bool = True, **extra) -> str:
    m = {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 5, **extra}
    return _event(
        "SparkListenerTaskEnd",
        **{
            "Stage ID": stage,
            "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
            "Task Metrics": m,
        },
    )


def _canned_log(t0_ms: int) -> list[str]:
    """Two jobs: job 0 under span 1 (a stage), job 1 under span 0 (root).
    A SQL plan event and a job from before tracing started are skipped."""
    props = lambda sid: {spans.SPAN_PROPERTY: str(sid)}  # noqa: E731
    return [
        _event("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", plan="x" * 50),
        _event("SparkListenerJobEnd", **{"Job ID": 99, "Completion Time": t0_ms}),
        _event("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": t0_ms + 1000,
                                           "Properties": props(1)}),
        _event("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 3},
                                                 "Properties": props(1)}),
        _task(3, 1000, 400_000_000,
              **{"Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                 "Disk Bytes Spilled": 7}),
        _task(3, 1000, 400_000_000,
              **{"Shuffle Read Metrics": {"Remote Bytes Read": 10, "Local Bytes Read": 30,
                                          "Fetch Wait Time": 250}}),
        _task(3, 4000, 1_000_000_000, ok=False),
        _event("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": t0_ms + 3000}),
        _event("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": t0_ms + 5000,
                                           "Properties": props(0)}),
        _event("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 4},
                                                 "Properties": props(0)}),
        _task(4, 500, 100_000_000),
        _event("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": t0_ms + 6000}),
    ]


def _canned_spans(t0: float) -> list[spans.Span]:
    return [
        spans.Span(0, "pipeline.run", None, t0, t0 + 8.0),
        spans.Span(1, "stage:link", 0, t0 + 0.5, t0 + 4.0),
    ]


def test_rollup_on_canned_event_log():
    t0 = 1_700_000_000.0
    events = spans.read_events(_canned_log(int(t0 * 1000)))
    assert [e["Event"] for e in events][:2] == ["SparkListenerJobEnd", "SparkListenerJobStart"]
    span_list = _canned_spans(t0)
    usage = spans.rollup(span_list, events)

    link, root = usage[1], usage[0]
    assert (link.jobs, link.tasks, link.tasks_failed) == (1, 3, 1)
    assert link.task_s == pytest.approx(6.0)
    assert link.jvm_cpu_s == pytest.approx(1.8)
    assert (link.shuffle_write_b, link.shuffle_read_b, link.spill_b) == (100, 40, 7)
    assert link.fetch_wait_s == pytest.approx(0.25)
    assert link.max_median_task == pytest.approx(4.0)
    # stage span 0.5..4.0 s, its job 1..3 s: 1.5 s of driver-only time
    assert spans.outside_job_s(span_list[1], link) == pytest.approx(1.5)

    # the root includes its child's work plus its own job
    assert (root.jobs, root.tasks) == (2, 4)
    assert root.task_s == pytest.approx(6.5)
    assert spans.outside_job_s(span_list[0], root) == pytest.approx(8.0 - 3.0)


def test_layer_values_stage_walls_account_for_the_build():
    t0 = 1_700_000_000.0
    span_list = _canned_spans(t0)
    usage = spans.rollup(span_list, spans.read_events(_canned_log(int(t0 * 1000))))
    v = metrics.layer_values(span_list, usage, {"link": 42}, 1000, 3, 4000)
    assert v["pipeline.run_s"] == pytest.approx(8.0)
    stage_walls = sum(v[f"pipeline.{s}.wall_s"] for s in metrics.KG_STAGES)
    assert stage_walls + v["pipeline.outside_stage_s"] == pytest.approx(v["pipeline.run_s"])
    assert v["link.triples.busy_cores"] == pytest.approx(6.0 / 3.5)
    assert v["link.triples.rows_out"] == 42
    assert v["lakehouse.write_amp"] == pytest.approx(0.25)
    assert v["jvm.tasks_failed"] == 1
    assert v["curate.lm.wall_s"] == 0.0  # a layer the operation did not run


def _op(wall, items, traced=False, **kw):
    op = workloads.Op(wall_s=wall, items=items, traced=traced, **kw)
    if traced:
        op.layer = dict.fromkeys(metrics.per_layer_names(), 1.0)
    return op


def test_every_named_metric_is_emitted_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert [w["why"] for w in bench["workloads"]] == [w.why for w in workloads.WORKLOADS.values()]

    ops = [_op(2.0, 100), _op(2.5, 100, traced=True), _op(3.0, 120)]
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        res = metrics.result(ops, 10.0, 2048.0, trace)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        want = {m["name"]: m["unit"] for m in bench[key]}
        assert {n: m["unit"] for n, m in res["metrics"].items()} == want
    assert [
        (m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]
    ] == metrics.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == (
        metrics.per_layer_spec()
    )

    e2e = metrics.result(ops, 10.0, 2048.0, False)["metrics"]
    assert e2e["op_s"]["value"] == 2.5  # median of the untraced operations
    layer = metrics.result(ops, 10.0, 2048.0, True)["metrics"]
    assert layer["trace.overhead.op_s"]["value"] == pytest.approx(0.0)


class _FixedOutput(workloads.Workload):
    name = "fixed"


def test_failed_output_check_is_counted(tmp_path):
    ops = [_op(1.0, 5), _op(1.0, 5), _op(1.0, 5, attempted=3)]
    ops[0].digests = {"t": [5, 11]}
    ops[1].digests = {"t": [5, 12]}  # differs from the first operation
    ops[2].digests = {"t": [5, 11]}
    _FixedOutput().check(None, str(tmp_path), seed=7, ops=ops)
    assert [op.failed for op in ops] == [0, 1, 0]
    assert not (tmp_path / "digests.json").exists()  # nothing saved from a failing run

    res = metrics.result(ops, 1.0, 1.0, False)
    assert (res["correct"], res["attempted"], res["failed"]) == (False, 5, 1)


def test_digests_repeat_across_runs_of_a_seed(tmp_path):
    first = [_op(1.0, 5)]
    first[0].digests = {"t": [5, 11]}
    _FixedOutput().check(None, str(tmp_path), seed=7, ops=first)
    assert inputs.load_digests(str(tmp_path)) == {"t": [5, 11]}

    later = [_op(1.0, 5)]
    later[0].digests = {"t": [5, 13]}
    _FixedOutput().check(None, str(tmp_path), seed=7, ops=later)
    assert later[0].failed == 1


def test_rows_digest_ignores_order_and_summation_noise():
    a = [(1, "x", 0.1 + 0.2), (2, "y", [1.0, 2.0])]
    b = [(2, "y", [1.0, 2.0]), (1, "x", 0.3)]
    assert workloads.rows_digest(a) == workloads.rows_digest(b)
    assert workloads.rows_digest(a) != workloads.rows_digest([(1, "x", 0.31)] + a[1:])
