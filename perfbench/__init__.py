"""Benchmark of the medallion pipeline and the gold dashboard queries."""
