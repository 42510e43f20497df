"""Benchmark harness for the PySpark pin-analytics engine (see README.md)."""
