"""Benchmark of the cdc_engine package; run ``python3 perfbench/run.py``."""
