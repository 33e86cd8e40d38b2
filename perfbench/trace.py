"""Spans recorded around calls into the engine, Spark event-log parsing and
attribution of Spark jobs to spans.

Spans carry wall-clock (epoch) times so they line up with the job
submission and completion times Spark writes to its event log. Every
job the benchmark triggers runs under a job group naming its pass, its
step (a query, or a pipeline stage) and its phase; the group is cleared
after each phase so it never leaks into the next step.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench"

#: Plan nodes that cross the Arrow/Python boundary, and the SQL metrics
#: of theirs that the benchmark sums (metric display name -> layer key).
ARROW_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "MapInArrow")
ARROW_METRICS = {
    "data sent to Python workers": ("arrow.bytes_to_python", 1),
    "data returned from Python workers": ("arrow.bytes_from_python", 1),
    "number of output rows": ("arrow.rows_from_python", 1),
    "time to run Python workers": ("arrow.python_run_s", 1e-3),
}
#: Slack for comparing JVM millisecond timestamps with Python span times.
CLOCK_SLACK_S = 0.002


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    step: str | None
    pass_no: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans in memory; ``spans`` is read when the run ends."""

    def __init__(self, clock=time.time):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.step: str | None = None
        self.pass_no: int | None = None

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(sid, name, self.clock(), float("nan"), parent, self.step, self.pass_no)
        self.spans.append(span)
        self._stack.append(sid)
        try:
            yield span
        finally:
            self._stack.pop()
            span.end = self.clock()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped_by_perfbench__ = True
        return traced


def job_group(pass_no: int, step: str, phase: str) -> str:
    return f"{GROUP_PREFIX}:{pass_no}:{step}:{phase}"


def parse_job_group(group: str | None) -> tuple[int, str, str] | None:
    if not group or not group.startswith(GROUP_PREFIX + ":"):
        return None
    _, pass_no, rest = group.split(":", 2)
    step, phase = rest.rsplit(":", 1)
    return int(pass_no), step, phase


@contextmanager
def phase_group(sc, tracer: Tracer | None, phase: str):
    """Run a phase under its own job group, and clear the group after it."""
    if tracer is None:
        yield
        return
    sc.setJobGroup(job_group(tracer.pass_no, tracer.step, phase), phase)
    try:
        with tracer.span(phase):
            yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def install_wrappers(tracer: Tracer, modules: list[str]) -> dict[str, str]:
    """Wrap every public function of each module in a span named
    ``<module>.<function>``, and rebind names other modules imported from
    them. Call it before the query registry is loaded: the plan modules
    bind operator names when they are imported.

    Returns {span name: layer module} for the wrapped functions.
    """
    wrapped: dict[int, object] = {}
    layer_of: dict[str, str] = {}
    loaded = [importlib.import_module(m) for m in modules]
    for mod in loaded:
        short = mod.__name__.removeprefix("skoltexter_by_ai_spark.")
        for attr, fn in list(vars(mod).items()):
            if (
                attr.startswith("_")
                or not inspect.isfunction(fn)
                or fn.__module__ != mod.__name__
                # pandas/Arrow UDF objects look like functions of the module.
                or hasattr(fn, "evalType")
            ):
                continue
            name = f"{short}.{attr}"
            traced = tracer.wrap(fn, name)
            wrapped[id(fn)] = traced
            layer_of[name] = short
            setattr(mod, attr, traced)
    for mod in loaded:
        for attr, value in list(vars(mod).items()):
            if id(value) in wrapped and not getattr(value, "__wrapped_by_perfbench__", False):
                setattr(mod, attr, wrapped[id(value)])
    return layer_of


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cursor = 0.0, lo
    for start, end in sorted(intervals):
        start, end = max(start, cursor), min(end, hi)
        if end > start:
            total += end - start
            cursor = end
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered(children.get(s.id, []), s.start, s.end) for s in spans
    }


# --- Spark event log ----------------------------------------------------------


@dataclass
class Job:
    id: int
    group: str | None
    submitted: float
    completed: float = float("nan")
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    metrics: dict[str, float] = field(default_factory=dict)

    def add(self, key: str, value: float) -> None:
        self.metrics[key] = self.metrics.get(key, 0.0) + value


def _arrow_accumulators(plan: dict, out: dict[int, tuple[str, float]]) -> None:
    if plan.get("nodeName") in ARROW_NODES:
        for metric in plan.get("metrics", []):
            if metric.get("name") in ARROW_METRICS:
                out[int(metric["accumulatorId"])] = ARROW_METRICS[metric["name"]]
    for child in plan.get("children", []):
        _arrow_accumulators(child, out)


def read_event_log(path: str) -> list[Job]:
    """Jobs with their task metrics and Arrow-boundary SQL metrics."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    arrow_acc: dict[int, tuple[str, float]] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _arrow_accumulators(ev.get("sparkPlanInfo", {}), arrow_acc)
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"] / 1000)
                jobs[job.id] = job
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = job.id
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].completed = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_job:
                    jobs[stage_job[sid]].stages += 1
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                job = jobs[stage_job[ev["Stage ID"]]]
                _add_task(job, ev, arrow_acc)
    return sorted(jobs.values(), key=lambda j: j.id)


def _add_task(job: Job, ev: dict, arrow_acc: dict[int, tuple[str, float]]) -> None:
    job.tasks += 1
    info = ev.get("Task Info", {})
    if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
        job.failed_tasks += 1
    m = ev.get("Task Metrics") or {}
    job.add("exec.task_cpu_s", m.get("Executor CPU Time", 0) / 1e9)
    job.add("exec.task_run_s", m.get("Executor Run Time", 0) / 1e3)
    job.add("exec.gc_s", m.get("JVM GC Time", 0) / 1e3)
    job.add("sources.input_bytes", m.get("Input Metrics", {}).get("Bytes Read", 0))
    shuffle_read = m.get("Shuffle Read Metrics", {})
    job.add(
        "exec.shuffle_read_bytes",
        shuffle_read.get("Remote Bytes Read", 0) + shuffle_read.get("Local Bytes Read", 0),
    )
    job.add("exec.shuffle_write_bytes", m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
    job.add("exec.spill_bytes", m.get("Disk Bytes Spilled", 0))
    job.add("sinks.bytes_written", m.get("Output Metrics", {}).get("Bytes Written", 0))
    for acc in info.get("Accumulables", []):
        metric = arrow_acc.get(int(acc.get("ID", -1)))
        if metric and acc.get("Update") is not None:
            job.add(metric[0], float(acc["Update"]) * metric[1])


def attribute_jobs(spans: list[Span], jobs: list[Job]) -> dict[int, int | None]:
    """Map each job to the innermost span that contains its submission
    time. A job whose group names a pass and step is matched only against
    that step's spans; a job without a group is matched against all."""
    out: dict[int, int | None] = {}
    for job in jobs:
        tag = parse_job_group(job.group)
        best: Span | None = None
        for s in spans:
            if tag and (s.pass_no, s.step) != tag[:2]:
                continue
            if s.start - CLOCK_SLACK_S <= job.submitted <= s.end + CLOCK_SLACK_S:
                # Spans are recorded parent first, so on a tie the later
                # one is the inner one.
                if best is None or s.start >= best.start:
                    best = s
        out[job.id] = best.id if best else None
    return out
