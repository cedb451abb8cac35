"""Benchmark for muopdb_spark: workloads, tracing and metrics (see README.md)."""
