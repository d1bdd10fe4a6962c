"""Benchmark of the review engine: three seeded workloads timed end to end and by layer."""
