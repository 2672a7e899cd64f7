"""Seeded end-to-end and per-layer benchmark of vision_parse_spark.

Run it from the repository root with ``python3 perfbench/run.py``;
see ``perfbench/README.md`` for the workloads and metrics.
"""
