"""Benchmark harness for crawler_spark; entry point: perfbench/run.py."""
