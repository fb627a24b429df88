"""Benchmark of dampr_spark: seeded workloads, end-to-end and per-layer metrics."""
