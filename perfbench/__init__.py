"""Benchmark for creatorops_lakehouse_spark; entry point is ``run.py``."""
