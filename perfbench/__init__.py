"""Engine benchmark: seeded workloads, end-to-end and per-layer metrics.

Run with ``python3 perfbench/run.py --help``.
"""
