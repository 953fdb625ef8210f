"""Benchmark for dabstract_spark (see run.py)."""
