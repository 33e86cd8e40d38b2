#!/usr/bin/env python3
"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload curation-sf0.1 --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout. It generates the workload's inputs
from ``--seed`` (cached under ``.perfbench/``), then starts two fresh
job processes one after another (``perfbench/job.py``). Job 0 sets up a
session, runs the first pass, checks its outputs, then runs the
workload's unmeasured warm-up passes and a fixed number of steady passes
sized from ``--seconds``. Job 1 sets up a second
session; with ``--trace 1`` it also runs a traced first and steady pass,
and the run reports per-layer metrics instead of end-to-end ones.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit). The full record,
with per-step walls, run conditions and per-layer metrics per step, is
written to ``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
#: A run must end within 180 s; jobs are killed past this point.
RUN_DEADLINE_S = 170
PR_SET_CHILD_SUBREAPER = 36

#: The metrics of the result line. ``end_to_end`` also computes
#: ``query_geomean_s``, ``peak_rss_mb`` and ``docs_per_s``, printed and
#: recorded only (see README.md).
END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("first_pass_s", "s"),
    ("cpu_s", "s"),
]


def preflight() -> None:
    """Refuse to run without the engine and the fixture generator."""
    needed = ("skoltexter_by_ai_spark/session.py", "tools/gen_scaled_fixtures.py", "bench.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        sys.exit(2)


def job_env() -> dict[str, str]:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    env["TMPDIR"] = os.path.join(STATE, "tmp")
    # Keep every JVM (the launcher's and the driver's) inside the checkout:
    # no perf-data file under /tmp, temp files under the state directory.
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    return env


def reap_children(deadline: float) -> None:
    """Wait for every orphaned descendant (the JVM outlives its Python
    driver briefly); kill what is still alive at the deadline."""
    from perfbench import procstat

    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            if time.monotonic() > deadline:
                for child in procstat.children(os.getpid()):
                    os.kill(child, signal.SIGKILL)
                deadline = float("inf")
            time.sleep(0.05)


def run_job(spec: dict, index: int, env: dict[str, str], deadline: float) -> dict:
    work = spec["work_dir"]
    spec_path = os.path.join(work, f"job{index}.json")
    spec["result"] = os.path.join(work, f"job{index}.result.json")
    with open(spec_path, "w", encoding="utf-8") as fh:
        json.dump(spec, fh)
    spawned = time.monotonic()
    # Its own process group holds the job, its JVM and the Python
    # workers, so a timeout or an interrupt can stop all of them.
    proc = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "perfbench", "job.py"), spec_path, repr(spawned)],
        env=env, cwd=work, stdout=sys.stderr.fileno(), start_new_session=True,
    )
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        reap_children(time.monotonic() + 15)
        raise
    reap_children(time.monotonic() + 15)
    if code != 0:
        raise RuntimeError(f"job {index} exited with {code}")
    with open(spec["result"], encoding="utf-8") as fh:
        result = json.load(fh)
    result["job_s"] = time.monotonic() - spawned
    return result


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def end_to_end(jobs: list[dict], workload: dict) -> dict[str, float]:
    warm = workload.get("warm_passes", 0)
    steady = [p for j in jobs for p in j["passes"][1 + warm:]]
    m = {
        "setup_s": statistics.median(j["setup_s"] for j in jobs),
        "wall_s": statistics.median(p["wall_s"] for p in steady),
        "first_pass_s": statistics.median(j["passes"][0]["wall_s"] for j in jobs if j["passes"]),
        "query_geomean_s": statistics.median(geomean(p["steps"].values()) for p in steady),
        "cpu_s": statistics.median(p["cpu_s"] for p in steady),
        "peak_rss_mb": statistics.median(j["peak_rss_mb"] for j in jobs if j["passes"]),
    }
    if workload["kind"] == "pipeline":
        m["docs_per_s"] = statistics.median(p["docs_per_s"] for p in steady)
    return m


def per_layer(untraced: dict, traced: dict) -> dict[str, float]:
    from perfbench.layers import PER_LAYER

    passes = traced["trace"]["passes"][1:]
    m = {
        name: statistics.median(p["total"].get(name, 0.0) for p in passes)
        for name, _, _ in PER_LAYER
        if name != "trace.overhead_s"
    }
    # Both are the first steady pass of a fresh session.
    m["trace.overhead_s"] = passes[0]["wall_s"] - untraced["passes"][1]["wall_s"]
    return m


def _interrupted(signum, frame):
    raise KeyboardInterrupt(f"signal {signum}")


def main() -> int:
    signal.signal(signal.SIGTERM, _interrupted)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    preflight()
    started = time.monotonic()
    # The final line must be the last thing on stdout: route everything
    # else, the jobs' JVM banners included, to stderr.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.path.insert(0, ROOT)
    from perfbench import inputs
    from perfbench.layers import LAYER_MAP, PER_LAYER
    from perfbench.workloads import MIN_STEADY, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    cache = os.path.join(STATE, "cache")
    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(cache, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    t0 = time.monotonic()
    base = {"kind": wl["kind"], "seed": args.seed, "conf": wl.get("conf", {}), "work_dir": work}
    if wl["kind"] == "queries":
        base.update(sf_dir=inputs.tables(ROOT, cache, wl["sf"], args.seed), queries=list(wl["queries"]),
                    modules=list(wl["modules"]))
    else:
        csv_path, template = inputs.schools_inputs(cache, args.seed, wl["rows"])
        base.update(csv=csv_path, template=template, limit=wl["limit"], out_dir=os.path.join(work, "out"),
                    target_rpm=10_000.0)
    input_s = time.monotonic() - t0

    env = job_env()
    base["cpus"] = int(env["SPARK_GRAFT_CPUS"])
    deadline = started + RUN_DEADLINE_S
    # A fixed number of steady passes, sized from --seconds and the
    # workload's nominal pass time: a faster program gets the same
    # number of passes, so runs of two versions stay comparable. The
    # warm-up passes before them are run but not measured.
    steady = max(MIN_STEADY, round(args.seconds / wl["pass_s"])) + wl.get("warm_passes", 0)
    # Job 0 measures the passes and checks the outputs. Job 1 sets up a
    # second fresh process, so set-up time is a median of two; in a
    # traced run it also runs the traced passes (one steady pass is enough).
    plans = [
        dict(traced=False, check=True, passes=True, steady_passes=steady),
        dict(traced=bool(args.trace), check=False, passes=bool(args.trace), steady_passes=1),
    ]
    try:
        jobs = [run_job(dict(base, **plan), index, env, deadline) for index, plan in enumerate(plans)]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    problems = dict(jobs[0].get("check_problems", {}))
    for j in jobs:
        problems.update(j["failures"])
    attempted = sum(j["attempted"] for j in jobs)
    failed = len(problems)
    e2e = end_to_end([j for j in jobs if "trace" not in j], wl)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "input_s": input_s,
        "end_to_end": e2e,
        "failed_frac": failed / attempted,
        "problems": problems,
        "jobs": jobs,
    }
    if args.trace:
        metrics = per_layer(jobs[0], jobs[-1])
        units = {name: unit for name, unit, _ in PER_LAYER}
        record["per_layer"] = metrics
        record["layer_map"] = LAYER_MAP
    else:
        metrics = {name: e2e[name] for name, _ in END_TO_END}
        units = dict(END_TO_END)
    records = os.path.join(STATE, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    out = os.fdopen(real_stdout, "w")
    summary = dict(e2e, failed_frac=failed / attempted)
    extra_units = {"query_geomean_s": "s", "peak_rss_mb": "MB", "docs_per_s": "docs/s", "failed_frac": "ratio"}
    for name, value in summary.items():
        print(f"{args.workload} {name} {value:.6g} {dict(END_TO_END).get(name) or extra_units[name]}", file=out)
    for name, msg in sorted(problems.items()):
        print(f"{args.workload} FAILED {name}: {msg}", file=out)
    line = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": value, "unit": units[name]} for name, value in metrics.items()},
    }
    print(json.dumps(line), file=out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
