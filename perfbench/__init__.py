"""Benchmark for fink_joiner_spark: see README.md in this directory."""
