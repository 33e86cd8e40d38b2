"""Benchmark of the engine: three workloads, end-to-end and per-layer metrics.

Run it from the root of a checkout::

    python3 perfbench/run.py --workload curation-sf0.1 --seed 1 --seconds 10 --trace 0

See ``perfbench/README.md`` for the workloads, the metrics and the layer map.
"""
