"""Benchmark of the CDC engine: see ``perfbench/run.py``."""
