"""Benchmark for limeqo_spark: three workloads (headline queries, live hint
steering, the simulation track), end-to-end metrics from untraced runs and
per-layer metrics from a traced run. Entry point: ``python3 perfbench/run.py``.
"""
