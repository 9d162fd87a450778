"""The repository's benchmark: seeded workloads, a /proc sampler and an
in-memory layer tracer. Entry point: ``python3 perfbench/run.py``."""
