"""Benchmark for the spark-graft engine; see run.py."""
