"""Seeded end-to-end and per-layer benchmark for graby_spark.

Run from the repository root::

    python3 perfbench/run.py --workload real_pages --seed 1 --seconds 16 --trace 0

See ``perfbench/README.md`` for the workloads, metrics and output format.
"""
