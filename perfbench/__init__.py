"""Seeded end-to-end and per-layer benchmark of the geopandas_spark engine.

Run from the repository root::

    python3 perfbench/run.py --workload join_broadcast --seed 1 --seconds 10 --trace 0

See ``perfbench/WORKLOADS.md`` for the workloads and the metrics.
"""
