"""Benchmark of the spark-kg engine; see README.md in this directory."""
