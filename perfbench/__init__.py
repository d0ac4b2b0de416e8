"""Benchmark of the daily-highlights job; run ``python3 perfbench/run.py``."""
