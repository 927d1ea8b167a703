"""Benchmark of skdist_spark: ``python3 perfbench/run.py --help``."""
