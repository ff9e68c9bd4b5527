"""Benchmark of the engine's three user-facing workloads; see run.py."""
