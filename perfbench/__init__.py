"""Benchmark for radares_spark: see README.md."""
