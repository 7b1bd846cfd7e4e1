"""Benchmark of the quality_spark rule engine; see README.md."""
