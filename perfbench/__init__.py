"""Benchmark of the sedona_db_spark engine: closed-loop spatial workloads.

Run ``python3 perfbench/run.py --help`` from the repository root.
"""
