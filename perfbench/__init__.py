"""Benchmark harness for spark-graft; see README.md."""
