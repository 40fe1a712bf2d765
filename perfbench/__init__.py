"""Benchmark for s2geometry_spark: see run.py and METRICS.md."""
