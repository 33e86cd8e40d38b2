"""One benchmark job: a fresh process that sets up a session, runs the
first pass of one workload, optionally checks its outputs, runs the
warm-up and steady passes, and writes its measurements as JSON.

    python3 perfbench/job.py <spec.json> <spawned>

``run.py`` writes the spec, starts the job with the checkout on
``PYTHONPATH`` (the Python workers import the engine from there) and
reads the result file the spec names. ``spawned`` is the parent's
monotonic clock just before it started the job.
"""

from __future__ import annotations

import contextlib
import csv
import gc
import json
import os
import re
import sys
import time

from pyspark.sql import SparkSession

from perfbench import layers, procstat
from perfbench.trace import Tracer, attribute_jobs, install_wrappers, phase_group, read_event_log
from perfbench.transport import SeededTransport, enrich_metrics, read_call_log

PROMPT = "SYSTEM: Improve this school description.\nUSER: {school_data}"


class Job:
    def __init__(self, spec: dict, spawned: float):
        self.spec = spec
        self.spawned = spawned
        self.kind = spec["kind"]
        self.work = spec["work_dir"]
        self.tracer = Tracer() if spec["traced"] else None
        self.layer_of: dict[str, str] = {}
        self.leaked: dict[tuple[int, str], int] = {}
        self.failures: dict[str, str] = {}
        self.attempted = 0
        self.check_walls: dict[str, float] = {}
        self.spark: SparkSession | None = None

    # --- set-up -----------------------------------------------------------

    def setup(self) -> float:
        from bench import _shuffle_partitions_for
        from skoltexter_by_ai_spark.session import default_parallelism, get_spark

        if self.tracer is not None:
            self.layer_of = install_wrappers(self.tracer, layers.TRACED_MODULES[self.kind])
        conf = dict(self.spec["conf"])
        if self.tracer is not None:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
            os.makedirs(os.path.join(self.work, "eventlog"), exist_ok=True)
        if self.kind == "queries":
            # The session a data engineer gets from bench.py.
            self.spark = get_spark(
                app_name="perfbench",
                shuffle_partitions=_shuffle_partitions_for(self.spec["sf_dir"], default_parallelism()),
                extra_conf=conf,
            )
            from skoltexter_by_ai_spark.plans.registry import all_queries

            self.registry = all_queries()
            for name in self.spec["queries"]:
                module = self.registry[name].builder.__module__.rsplit(".", 1)[-1]
                if module not in self.spec["modules"]:
                    raise ValueError(f"{name} is registered by {module}, not by {self.spec['modules']}")
        else:
            # The session cli.main builds.
            self.spark = get_spark(app_name="perfbench-pipeline", extra_conf=conf)
            from skoltexter_by_ai_spark import cli

            self.cli = cli
        self.spark.range(1000).selectExpr("sum(id)").collect()
        return time.monotonic() - self.spawned

    # --- passes -----------------------------------------------------------

    def run_pass(self, pass_no: int) -> dict:
        from bench import _steal_jiffies

        if self.tracer is not None:
            self.tracer.pass_no = pass_no
        cpu0, steal0 = procstat.tree_cpu_s(os.getpid()), _steal_jiffies()
        start = time.time()
        steps = self.query_pass(pass_no) if self.kind == "queries" else self.pipeline_pass(pass_no)
        out = {
            "pass": pass_no,
            "start": start,
            "end": time.time(),
            "wall_s": sum(steps.values()),
            "cpu_s": procstat.tree_cpu_s(os.getpid()) - cpu0,
            "steal_jiffies": _steal_jiffies() - steal0,
            "steps": steps,
        }
        if self.kind == "pipeline":
            calls = read_call_log(self.call_log(pass_no))
            out["enrich"] = enrich_metrics(calls, target_rpm=self.spec["target_rpm"])
            out["docs_per_s"] = out["enrich"]["enrich.ok_docs"] / steps["stage2_enrich"]
            out["site_bytes"] = os.path.getsize(os.path.join(self.spec["out_dir"], self.cli.SITE_FILE))
            self.attempted += self.spec["limit"]
            missing = self.spec["limit"] - int(out["enrich"]["enrich.ok_docs"])
            if missing:
                self.failures[f"pass{pass_no}:enrich"] = f"{missing} documents not enriched"
        return out

    def query_pass(self, pass_no: int) -> dict[str, float]:
        sc = self.spark.sparkContext
        walls: dict[str, float] = {}
        for name in self.spec["queries"]:
            spec = self.registry[name]
            self.attempted += 1
            if self.tracer is not None:
                self.tracer.step = name
            try:
                with self.step_span(name):
                    start = time.perf_counter()
                    # Build and execute are timed together, as bench.py
                    # does: some builders run eager jobs.
                    with phase_group(sc, self.tracer, "build"):
                        df = spec.builder(self.spark, self.spec["sf_dir"])
                    with phase_group(sc, self.tracer, "exec"):
                        df.write.format("noop").mode("overwrite").save()
                    walls[name] = time.perf_counter() - start
                del df
            except Exception as exc:  # keep measuring; the failure is reported
                self.failures[f"pass{pass_no}:{name}"] = f"{type(exc).__name__}: {exc}"[:300]
            finally:
                self.sweep(pass_no, name)
        return walls

    def sweep(self, pass_no: int, name: str) -> None:
        """Drop the query's frames, count persistent RDDs that outlive
        them (traced runs), then unpersist every one, as bench.py does."""
        gc.collect()
        jsc = self.spark.sparkContext._jsc
        if self.tracer is not None:
            self.leaked[(pass_no, name)] = procstat.settled_count(
                lambda: jsc.getPersistentRDDs().size(), self.spark._jvm.System.gc
            )
        for rdd in list(jsc.getPersistentRDDs().values()):
            rdd.unpersist()

    def pipeline_pass(self, pass_no: int) -> dict[str, float]:
        cli, out = self.cli, self.spec["out_dir"]
        cli.reset(out)
        os.makedirs(out, exist_ok=True)
        log = self.call_log(pass_no)
        if os.path.exists(log):
            os.remove(log)
        transport = SeededTransport(self.spec["seed"], log)
        sc = self.spark.sparkContext
        calls = {
            "stage1_render": lambda: cli.stage1_render(self.spark, self.spec["csv"], self.spec["template"], out),
            "stage2_enrich": lambda: cli.stage2_enrich(
                self.spark, out, PROMPT, transport=transport, limit=self.spec["limit"]
            ),
            "stage3_publish": lambda: cli.stage3_publish(self.spark, self.spec["csv"], out),
        }
        walls: dict[str, float] = {}
        for stage, call in calls.items():
            if self.tracer is not None:
                self.tracer.step = stage
            with self.step_span(stage), phase_group(sc, self.tracer, "exec"):
                start = time.perf_counter()
                call()
                walls[stage] = time.perf_counter() - start
        return walls

    def step_span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def call_log(self, pass_no: int) -> str:
        return os.path.join(self.work, f"calls-{pass_no}.jsonl")

    # --- output checks ----------------------------------------------------

    def check_queries(self) -> dict[str, str]:
        from skoltexter_by_ai_spark.testing import compare_with_oracle

        problems: dict[str, str] = {}
        sf_dir = self.spec["sf_dir"]
        for name in self.spec["queries"]:
            spec = self.registry[name]
            self.attempted += 1
            start = time.monotonic()
            try:
                df = spec.builder(self.spark, sf_dir)
                if spec.oracle:
                    report = compare_with_oracle(name, df, spec.oracle, sf_dir)
                    if not report.ok:
                        problems[name] = f"oracle: {report.detail or 'row/column mismatch'}"
                else:
                    # Generated tables are not the standard fixture, so a
                    # guard that counts planted features relaxes to >= 1.
                    need = 1 if spec.min_rows_is_fixture_law else spec.min_rows
                    rows = df.count()
                    if rows < need:
                        problems[name] = f"min_rows: {rows} < {need}"
                del df
            except Exception as exc:
                problems[name] = f"{type(exc).__name__}: {exc}"[:300]
            finally:
                self.sweep(-1, name)
                self.check_walls[name] = time.monotonic() - start
        return problems

    def check_site(self) -> dict[str, str]:
        self.attempted += 1
        out = self.spec["out_dir"]
        with open(os.path.join(out, self.cli.SITE_FILE), encoding="utf-8") as fh:
            match = re.search(r"const schools = (\[.*?\]);", fh.read(), re.S)
        if not match:
            return {"site": "no schools array in the site"}
        rows = json.loads(match.group(1))
        with open(self.spec["csv"], encoding="utf-8-sig", newline="") as fh:
            codes = {r["SchoolCode"].strip() for r in csv.DictReader(fh, delimiter=";")} - {""}
        problems = {}
        ids = [r["id"] for r in rows]
        if len(ids) != len(set(ids)) or set(ids) != codes:
            problems["site.codes"] = f"{len(ids)} rows, {len(set(ids))} distinct, {len(codes)} expected"
        names = [r["name"] for r in rows]
        if names != sorted(names):
            problems["site.order"] = "rows not sorted by name"
        marker = re.compile(r"perfbench (\d+) enriched")
        enriched = [r for r in rows if marker.search(r["ai_description_html"])]
        wrong = [r["id"] for r in enriched if marker.search(r["ai_description_html"]).group(1) != r["id"]]
        if len(enriched) != self.spec["limit"] or wrong:
            problems["site.enriched"] = f"{len(enriched)} enriched rows (want {self.spec['limit']}), {len(wrong)} on the wrong school"
        failed_dir = os.path.join(out, self.cli.FAILED_DIR)
        if os.path.isdir(failed_dir) and self.spark.read.parquet(failed_dir).count():
            problems["site.failed_side_output"] = "failed side output is not empty"
        return problems

    # --- trace ------------------------------------------------------------

    def trace_metrics(self, passes: list[dict]) -> dict:
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        jobs = read_event_log(os.path.join(self.work, "eventlog", app_id))
        spans = self.tracer.spans
        owner = attribute_jobs(spans, jobs)
        cores = self.spec["cpus"]
        per_pass = []
        for p in passes:
            steps = {}
            for step, wall in p["steps"].items():
                m = layers.step_metrics(spans, jobs, owner, self.layer_of, p["pass"], step, self.kind)
                if self.kind == "queries":
                    m["operators.pinning.leaked_rdds"] = float(self.leaked.get((p["pass"], step), 0))
                else:
                    m[f"cli.{step}_s"] = wall
                steps[step] = m
            total = layers.sum_metrics(steps.values())
            total["exec.core_util"] = total["exec.task_cpu_s"] / (p["wall_s"] * cores)
            if self.kind == "pipeline":
                total.update(p["enrich"])
                total["publish.site_bytes"] = float(p["site_bytes"])
            per_pass.append({"pass": p["pass"], "wall_s": p["wall_s"], "total": total, "steps": steps})
        unattributed = sum(1 for j in jobs if owner[j.id] is None)
        return {"passes": per_pass, "jobs": len(jobs), "unattributed_jobs": unattributed}


def main(spec_path: str, spawned: float) -> int:
    """``spawned`` is the parent's monotonic clock when it started this
    process: set-up time counts interpreter start and imports."""
    with open(spec_path, encoding="utf-8") as fh:
        spec = json.load(fh)
    from bench import _steal_jiffies

    loadavg_start, steal_start = list(os.getloadavg()), _steal_jiffies()
    job = Job(spec, spawned)
    result: dict = {"setup_s": job.setup()}
    npasses = 1 + spec["steady_passes"] if spec["passes"] else 0
    passes = [job.run_pass(0)] if npasses else []
    if spec["check"]:
        # Between the first pass and the rest: it checks the first pass's
        # outputs and warms the JIT for the steady passes.
        start = time.monotonic()
        result["check_problems"] = job.check_queries() if job.kind == "queries" else job.check_site()
        result["check_s"] = time.monotonic() - start
        result["check_walls"] = job.check_walls
    passes += [job.run_pass(n) for n in range(1, npasses)]
    result["peak_rss_mb"] = procstat.peak_rss_mb(os.getpid())
    from skoltexter_by_ai_spark.session import default_parallelism

    result["conditions"] = {
        "cpus": default_parallelism(),
        "master": job.spark.sparkContext.master,
        "host_cpus": os.cpu_count(),
        "steal_jiffies": _steal_jiffies() - steal_start,
        "loadavg_start": loadavg_start,
        "loadavg_end": list(os.getloadavg()),
    }
    result["passes"] = passes
    if job.tracer is not None:
        result["trace"] = job.trace_metrics(passes)
    else:
        job.spark.stop()
    result["failures"] = job.failures
    result["attempted"] = job.attempted
    with open(spec["result"], "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    # JVM banners write to fd 1; keep the job's stdout free of them.
    os.dup2(2, 1)
    sys.exit(main(sys.argv[1], float(sys.argv[2])))
