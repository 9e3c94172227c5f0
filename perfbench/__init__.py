"""Benchmark of the lineage engine: see ``run.py``."""
