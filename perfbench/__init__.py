"""Frontier-loop benchmark for crawler_spark (see perfbench/README.md)."""
