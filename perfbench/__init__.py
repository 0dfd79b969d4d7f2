"""Benchmark of the CDC engine and its analytics registry (see run.py)."""
