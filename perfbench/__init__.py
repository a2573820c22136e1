"""Benchmark of the transit analytics engine: see run.py."""
