"""Benchmark harness for the creator-analytics engine; see README.md."""
