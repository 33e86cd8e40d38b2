"""Per-layer metrics: which modules are traced, how a step's spans and
jobs become layer metrics, and which end-to-end metric each layer metric
should move, on which workload."""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Iterable

from perfbench.trace import Job, Span, covered, self_times

_PKG = "skoltexter_by_ai_spark."
OPERATOR_MODULES = (
    "dedup", "quantiles", "text_analysis", "similarity", "embedding", "retrieval", "temporal",
    "curation", "sketches", "skew", "packing", "multimodal", "cdc", "pinning",
)
TRACED_MODULES = {
    "queries": [f"{_PKG}operators.{m}" for m in OPERATOR_MODULES],
    "pipeline": [
        f"{_PKG}sources.schools_csv",
        f"{_PKG}functions.template",
        f"{_PKG}operators.enrich",
        f"{_PKG}plans.pipeline_publish",
    ],
}
#: Pipeline calls that build a plan rather than run one; their time is
#: the pipeline's ``plans.build_s`` (a query's is its builder call).
PIPELINE_BUILD = frozenset({
    "sources.schools_csv.read_schools_csv",
    "functions.template.render_documents",
    "operators.enrich.incremental_inputs",
    "operators.enrich.llm_enrich",
    "operators.enrich.side_outputs",
    "plans.pipeline_publish.joined_site_rows",
})

#: Layer metrics reported on the result line of a traced run:
#: (name, unit, better). Every one is defined on every workload.
PER_LAYER = [
    ("plans.build_s", "s", "lower"),
    ("plans.build_jobs", "count", "lower"),
    ("plans.driver_gap_s", "s", "lower"),
    ("operators.calls", "count", "lower"),
    ("operators.jobs", "count", "lower"),
    ("operators.pinning.pins", "count", "lower"),
    ("operators.pinning.leaked_rdds", "count", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.failed_tasks", "count", "lower"),
    ("exec.task_cpu_s", "s", "lower"),
    ("exec.task_run_s", "s", "lower"),
    ("exec.core_util", "ratio", "higher"),
    ("sources.input_bytes", "B", "lower"),
    ("exec.shuffle_read_bytes", "B", "lower"),
    ("exec.shuffle_write_bytes", "B", "lower"),
    ("exec.spill_bytes", "B", "lower"),
    ("arrow.rows_from_python", "count", "lower"),
    ("arrow.bytes_to_python", "B", "lower"),
    ("arrow.bytes_from_python", "B", "lower"),
    ("enrich.calls", "count", "lower"),
    ("enrich.retries", "count", "lower"),
    ("enrich.in_flight_mean", "calls", "higher"),
    ("enrich.rate_util", "ratio", "higher"),
    ("publish.site_bytes", "B", "lower"),
    ("sinks.bytes_written", "B", "lower"),
    ("trace.overhead_s", "s", "lower"),
]

#: For each layer metric: the end-to-end metrics it should move, and the
#: workload where that shows. Copied into every traced record; the
#: README's table says the same. Names marked "(record)" are in the
#: record only, because they are 0 on some workload.
LAYER_MAP = {
    "plans.build_s, plans.build_jobs, plans.driver_gap_s": ("wall_s, query_geomean_s", "curation-sf0.1"),
    "operators.calls, operators.jobs, operators.<module>.calls/.s/.jobs (record)": (
        "wall_s", "curation-sf0.1; only operators.enrich in pipeline"),
    "operators.pinning.pins, operators.pinning.leaked_rdds": ("wall_s, peak_rss_mb", "curation-sf0.1"),
    "exec.jobs, exec.stages, exec.tasks, exec.failed_tasks": ("wall_s, query_geomean_s", "curation-sf0.1"),
    "exec.task_cpu_s, exec.task_run_s, exec.core_util, exec.gc_s (record)": (
        "cpu_s, wall_s", "both; relational-sf1 by hand"),
    "sources.input_bytes, exec.shuffle_read_bytes, exec.shuffle_write_bytes, exec.spill_bytes": (
        "wall_s, cpu_s", "both; relational-sf1 by hand"),
    "arrow.rows_from_python, arrow.bytes_to_python, arrow.bytes_from_python, arrow.python_run_s (record)": (
        "wall_s", "pipeline; 0 on the current curation-sf0.1 queries"),
    "sources.schools_csv.read_s, functions.template.build_s, cli.stage1_render_s (all record)": (
        "wall_s, first_pass_s", "pipeline"),
    "enrich.calls, enrich.retries, enrich.in_flight_mean, enrich.rate_util, cli.stage2_enrich_s, enrich.idle_s (record)": (
        "wall_s, docs_per_s", "pipeline only"),
    "publish.site_bytes, sinks.bytes_written, cli.stage3_publish_s (record)": ("wall_s", "pipeline only"),
    "trace.overhead_s": ("none", "every workload"),
}


def _ancestors(span: Span, by_id: dict[int, Span]) -> Iterable[Span]:
    while span.parent is not None and span.parent in by_id:
        span = by_id[span.parent]
        yield span


def step_metrics(
    spans: list[Span],
    jobs: list[Job],
    owner: dict[int, int | None],
    layer_of: dict[str, str],
    pass_no: int,
    step: str,
    kind: str,
) -> dict[str, float]:
    """Layer metrics of one step (a query, or a pipeline stage) of a pass."""
    mine = [s for s in spans if s.pass_no == pass_no and s.step == step]
    by_id = {s.id: s for s in mine}
    root = next(s for s in mine if s.name == step)
    step_jobs = [j for j in jobs if owner[j.id] in by_id]
    jobs_of: dict[int, int] = defaultdict(int)
    for j in step_jobs:
        jobs_of[owner[j.id]] += 1
    m: dict[str, float] = defaultdict(float)
    m["exec.jobs"] = len(step_jobs)
    for j in step_jobs:
        m["exec.stages"] += j.stages
        m["exec.tasks"] += j.tasks
        m["exec.failed_tasks"] += j.failed_tasks
        for key, value in j.metrics.items():
            m[key] += value
    if kind == "queries":
        builds = [s for s in mine if s.name == "build"]
    else:
        builds = [
            s for s in mine
            if s.name in PIPELINE_BUILD and not any(a.name in PIPELINE_BUILD for a in _ancestors(s, by_id))
        ]
    build_ids = {b.id for b in builds}
    m["plans.build_s"] = sum(b.duration for b in builds)
    m["plans.build_jobs"] = sum(
        n for sid, n in jobs_of.items()
        if sid in build_ids or any(a.id in build_ids for a in _ancestors(by_id[sid], by_id))
    )
    m["plans.driver_gap_s"] = root.duration - covered(
        [(j.submitted, j.completed) for j in step_jobs], root.start, root.end
    )
    selfs = self_times(mine)
    for s in mine:
        layer = layer_of.get(s.name)
        if layer is None:
            continue
        m[f"{layer}.calls"] += 1
        m[f"{layer}.s"] += selfs[s.id]
        m[f"{layer}.jobs"] += jobs_of.get(s.id, 0)
        if layer.startswith("operators."):
            m["operators.calls"] += 1
            m["operators.s"] += selfs[s.id]
            m["operators.jobs"] += jobs_of.get(s.id, 0)
    m["operators.pinning.pins"] = float(sum(1 for s in mine if s.name == "operators.pinning.pin"))
    if kind == "pipeline":
        m["sources.schools_csv.read_s"] = sum(
            s.duration for s in mine if s.name == "sources.schools_csv.read_schools_csv"
        )
        m["functions.template.build_s"] = sum(
            s.duration for s in mine if s.name == "functions.template.render_documents"
        )
    return dict(m)


def sum_metrics(rows: Iterable[dict[str, float]]) -> dict[str, float]:
    total: dict[str, float] = defaultdict(float)
    for row in rows:
        for key, value in row.items():
            total[key] += value
    return dict(total)
