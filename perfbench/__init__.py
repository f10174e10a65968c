"""Benchmark of the TF-IDF engine; the entry point is ``perfbench/run.py``."""
