"""Benchmark for trefoil_spark: see README.md and run.py."""
