"""Benchmark of the scalemine_spark link-graph engine (see README.md)."""
