"""Extraction benchmark: end-to-end docs/s per workload and traced
per-layer self time. Entry point: ``python3 perfbench/run.py``."""
