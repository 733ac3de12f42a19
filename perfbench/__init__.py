"""Benchmark of llogtail_spark; see perfbench/README.md."""
