"""Benchmark of the ayeaye_spark engine; see ``perfbench/run.py``."""
