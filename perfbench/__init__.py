"""Benchmark for the qaapi_spark engine; see README.md and run.py."""
