"""Closed-loop benchmark of titanlib_spark (see perfbench/README.md)."""
