"""Benchmark of the salim-spark engine: see run.py."""
