#!/usr/bin/env python3
"""Profile declared queries layer by layer in one traced benchmark job.

    python3 tools/profile_query.py x20_dedup_clusters x72_robust_zscore --sf-dir DIR --passes 2

Writes a perfbench job spec for the named registry queries (no name
means all of them) and runs it in one fresh process through
``perfbench.run.run_job``: the session ``bench.py`` builds, a first pass,
then ``--passes`` steady passes, every query traced. Prints one row per
pass and query: the query's wall and every per-layer metric of
``perfbench.layers.PER_LAYER`` the step reports (plan build, jobs during
build, driver gap, jobs, task CPU, pins, leaked RDDs, bytes). Pass 0 is
the first pass of the fresh session.

A conf A/B is one leg per process, the legs run alternately:

    for i in 1 2 3; do for leg in true false; do
      python3 tools/profile_query.py x20_dedup_clusters --sf-dir DIR \\
          --conf spark.sql.adaptive.enabled=$leg
    done; done

Growth with data size is two runs at two ``--sf-dir``s made by
``tools/gen_scaled_fixtures.py`` with one seed.
"""

from __future__ import annotations

import argparse
import ctypes
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.layers import PER_LAYER  # noqa: E402
from perfbench.run import PR_SET_CHILD_SUBREAPER, STATE, job_env, run_job  # noqa: E402


def table(result: dict) -> list[list[str]]:
    """Header plus one row per pass and query of a traced job's result."""
    passes = result["trace"]["passes"]
    reported = {k for p in passes for step in p["steps"].values() for k in step}
    columns = [(name, unit) for name, unit, _ in PER_LAYER if name in reported]
    rows = [["pass", "query", "wall_s"] + [name for name, _ in columns]]
    for traced, timed in zip(passes, result["passes"]):
        for query, m in traced["steps"].items():
            cells = [str(traced["pass"]), query, f"{timed['steps'][query]:.3f}"]
            for name, unit in columns:
                value = m.get(name, 0.0)
                cells.append(f"{value:.3f}" if unit == "s" else f"{value:.0f}")
            rows.append(cells)
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="registry query names; none means all")
    ap.add_argument("--sf-dir", required=True, help="directory of the query tables")
    ap.add_argument("--conf", action="append", default=[], metavar="K=V", help="session conf, repeatable")
    ap.add_argument("--passes", type=int, default=1, help="steady passes after the first pass")
    args = ap.parse_args()
    conf = dict(kv.split("=", 1) for kv in args.conf)

    from skoltexter_by_ai_spark.plans.registry import all_queries

    registry = all_queries()
    names = args.names or sorted(registry)
    unknown = [n for n in names if n not in registry]
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")
    modules = sorted({registry[n].builder.__module__.rsplit(".", 1)[-1] for n in names})

    env = job_env()
    work = os.path.join(STATE, "work", f"profile-{os.getpid()}")
    os.makedirs(work)
    spec = {
        "kind": "queries", "sf_dir": os.path.abspath(args.sf_dir), "queries": names, "modules": modules,
        "conf": conf, "work_dir": work, "cpus": int(env["SPARK_GRAFT_CPUS"]),
        "traced": True, "check": False, "passes": True, "steady_passes": args.passes,
    }
    # Reap the job's JVM too, so no process outlives this one.
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    try:
        result = run_job(spec, 0, env, float("inf"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rows = table(result)
    widths = [max(len(r[i]) for r in rows) for i in range(len(rows[0]))]
    for r in rows:
        print("  ".join(c.ljust(w) if i < 2 else c.rjust(w) for i, (c, w) in enumerate(zip(r, widths))))
    for name, msg in sorted(result["failures"].items()):
        print(f"FAILED {name}: {msg}", file=sys.stderr)
    return 1 if result["failures"] else 0


if __name__ == "__main__":
    sys.exit(main())
