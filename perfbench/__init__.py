"""Benchmark of record; entry point: perfbench/run.py."""
