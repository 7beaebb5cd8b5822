"""Benchmark of the cartwright_spark engine; see README.md."""
