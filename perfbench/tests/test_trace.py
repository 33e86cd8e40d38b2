"""Span self time, job attribution and job-group hygiene of the tracer."""

from __future__ import annotations

import itertools
import json

import pytest

from perfbench.layers import step_metrics
from perfbench.trace import (
    Job,
    Span,
    Tracer,
    attribute_jobs,
    covered,
    job_group,
    phase_group,
    read_event_log,
    self_times,
)


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered([], 0, 10) == 0


def test_self_time_is_duration_minus_child_coverage():
    spans = [
        Span(0, "query", 0.0, 10.0, None, "q", 1),
        Span(1, "build", 1.0, 4.0, 0, "q", 1),
        Span(2, "operators.dedup.f", 2.0, 3.5, 1, "q", 1),
        Span(3, "exec", 4.0, 9.0, 0, "q", 1),
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10 - (3 + 5))
    assert selfs[1] == pytest.approx(3 - 1.5)
    assert selfs[2] == pytest.approx(1.5)
    assert selfs[3] == pytest.approx(5)


def test_tracer_nests_spans_and_records_step():
    ticks = itertools.count()
    tracer = Tracer(clock=lambda: float(next(ticks)))
    tracer.pass_no, tracer.step = 2, "q1"
    traced = tracer.wrap(lambda x: x + 1, "operators.cdc.f")
    with tracer.span("q1"):
        assert traced(1) == 2
    outer, inner = tracer.spans
    assert inner.parent == outer.id and outer.parent is None
    assert (inner.pass_no, inner.step) == (2, "q1")
    assert outer.start < inner.start < inner.end < outer.end


def _two_queries() -> list[Span]:
    return [
        Span(0, "q1", 0.0, 10.0, None, "q1", 1),
        Span(1, "build", 0.0, 4.0, 0, "q1", 1),
        Span(2, "operators.pinning.pin", 1.0, 3.0, 1, "q1", 1),
        Span(3, "exec", 4.0, 10.0, 0, "q1", 1),
        Span(4, "q2", 10.0, 20.0, None, "q2", 1),
        Span(5, "build", 10.0, 12.0, 4, "q2", 1),
        Span(6, "exec", 12.0, 20.0, 4, "q2", 1),
    ]


def test_jobs_go_to_innermost_span_of_their_own_step():
    spans = _two_queries()
    jobs = [
        Job(0, job_group(1, "q1", "build"), 2.0, 2.5),  # inside the pin
        Job(1, job_group(1, "q1", "exec"), 5.0, 9.0),
        Job(2, job_group(1, "q2", "exec"), 13.0, 19.0),
        # Submitted at q1's last millisecond but tagged q2: the group wins.
        Job(3, job_group(1, "q2", "build"), 10.0, 11.0),
        Job(4, None, 15.0, 16.0),  # untagged: matched by time alone
    ]
    owner = attribute_jobs(spans, jobs)
    assert owner == {0: 2, 1: 3, 2: 6, 3: 5, 4: 6}
    layer_of = {"operators.pinning.pin": "operators.pinning"}
    q1 = step_metrics(spans, jobs, owner, layer_of, 1, "q1", "queries")
    assert q1["exec.jobs"] == 2 and q1["plans.build_jobs"] == 1
    assert q1["operators.pinning.pins"] == 1 and q1["operators.jobs"] == 1
    assert q1["plans.build_s"] == 4.0
    assert q1["plans.driver_gap_s"] == pytest.approx(10 - 0.5 - 4)
    q2 = step_metrics(spans, jobs, owner, layer_of, 1, "q2", "queries")
    assert q2["exec.jobs"] == 3 and q2["plans.build_jobs"] == 1


class _RecordingContext:
    def __init__(self):
        self.props: dict[str, str | None] = {}

    def setJobGroup(self, group, description):  # noqa: N802 - Spark's API
        self.props["spark.jobGroup.id"] = group
        self.props["spark.job.description"] = description

    def setLocalProperty(self, key, value):  # noqa: N802 - Spark's API
        self.props[key] = value


def test_phase_group_is_cleared_even_when_the_phase_raises():
    sc, tracer = _RecordingContext(), Tracer()
    tracer.pass_no, tracer.step = 0, "q1"
    with phase_group(sc, tracer, "build"):
        assert sc.props["spark.jobGroup.id"] == job_group(0, "q1", "build")
    assert sc.props["spark.jobGroup.id"] is None
    with pytest.raises(RuntimeError):
        with phase_group(sc, tracer, "exec"):
            raise RuntimeError("query failed")
    assert sc.props["spark.jobGroup.id"] is None
    assert [s.name for s in tracer.spans] == ["build", "exec"]


def _write_log(path, events):
    with open(path, "w", encoding="utf-8") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")


def test_event_log_task_metrics_and_arrow_metrics(tmp_path):
    plan = {
        "nodeName": "MapInPandas",
        "metrics": [
            {"name": "data sent to Python workers", "accumulatorId": 7},
            {"name": "number of output rows", "accumulatorId": 8},
        ],
        "children": [],
    }
    task = {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": 3,
        "Task End Reason": {"Reason": "Success"},
        "Task Info": {"Failed": False, "Accumulables": [{"ID": 7, "Update": 100}, {"ID": 8, "Update": 5}]},
        "Task Metrics": {
            "Executor CPU Time": 2_000_000_000,
            "Executor Run Time": 2500,
            "Input Metrics": {"Bytes Read": 10},
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
        },
    }
    _write_log(
        tmp_path / "log",
        [
            {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
            {
                "Event": "SparkListenerJobStart",
                "Job ID": 0,
                "Submission Time": 1500,
                "Stage IDs": [3],
                "Properties": {"spark.jobGroup.id": job_group(1, "q1", "exec")},
            },
            task,
            dict(task, **{"Task End Reason": {"Reason": "ExceptionFailure"}}),
            {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
            {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 4000},
        ],
    )
    (job,) = read_event_log(str(tmp_path / "log"))
    assert (job.submitted, job.completed) == (1.5, 4.0)
    assert (job.tasks, job.failed_tasks, job.stages) == (2, 1, 1)
    assert job.metrics["exec.task_cpu_s"] == pytest.approx(4.0)
    assert job.metrics["exec.task_run_s"] == pytest.approx(5.0)
    assert job.metrics["exec.shuffle_read_bytes"] == 6
    assert job.metrics["arrow.bytes_to_python"] == 200
    assert job.metrics["arrow.rows_from_python"] == 10
