"""The benchmark's workloads.

A full measurement makes 4 + 22 runs per workload within a fixed time,
and every run starts two fresh processes that each set up a Spark
session (about 11 s each). So a run has to end in about a minute, and
the workloads are small: the query workloads are fixed subsets of their
modules' queries, chosen for the layers the workload exists to stress,
and the pipeline enriches 200 documents. ``pass_s`` is a workload's nominal steady-pass
time; a run makes ``round(seconds / pass_s)`` steady passes, at least
``MIN_STEADY``. ``warm_passes`` passes run between the first pass and the
steady ones and are not measured: the JIT still compiles during them.
"""

from __future__ import annotations

MIN_STEADY = 3

WORKLOADS: dict[str, dict] = {
    "curation-sf0.1": {
        "kind": "queries",
        "sf": 0.1,
        "pass_s": 2.0,
        # A fresh JVM keeps compiling these queries' code for a dozen
        # passes. Passes 1 to 3 run up to 50% slower than pass 5 and vary
        # most from run to run; from pass 4 on the wall falls a few
        # percent a pass. The output check, run right after the first
        # pass, runs the same queries and warms the JIT too.
        "warm_passes": 3,
        "modules": ("extension_queries", "curation_queries", "analytics_queries"),
        # The job chain and pins of connected components (dedup), plus
        # two cheap queries over the CDC and packing operators.
        "queries": (
            "x20_dedup_clusters",
            "x74_cdc_snapshot",
            "x41_sequence_packing",
        ),
    },
    "relational-sf1": {
        "kind": "queries",
        "sf": 1,
        "pass_s": 3.5,
        "modules": ("core_queries", "tpch_queries", "olap_queries"),
        # SQL-native plans over 10x the rows: scan, shuffle and task CPU.
        "queries": (
            "q12_left_join_fallback",
            "q19_semi_join",
            "x25_set_ops",
        ),
    },
    "pipeline": {
        "kind": "pipeline",
        "rows": 1000,
        "pass_s": 6.5,
        # The CPU of a pass falls from about 9 s (pass 1) to 7.5 s and 6 s
        # over the next two while the JIT compiles, so pass 1 is not
        # measured.
        "warm_passes": 1,
        "limit": 200,
        # Two Arrow batches, so the enrich stage crosses a batch boundary.
        # Each batch of 100 meets three of the transport's scheduled
        # transient 500s and their 1 s retry back-off.
        "conf": {"spark.sql.execution.arrow.maxRecordsPerBatch": "100"},
    },
}
