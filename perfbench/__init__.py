"""Closed-loop benchmark of the engine: seeded workloads, correctness checks
and a traced run with per-layer metrics. Entry point: ``perfbench/run.py``."""
