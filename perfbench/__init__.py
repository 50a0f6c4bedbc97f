"""Benchmark of the MapReduce engine: seeded workloads, end-to-end and per-layer metrics."""
