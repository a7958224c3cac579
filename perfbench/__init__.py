"""Benchmark for icicle_spark: see README.md."""
