"""Benchmark of the kwh-spark engine; see run.py."""
