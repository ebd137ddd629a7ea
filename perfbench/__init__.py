"""Sweep-lifecycle benchmark for xyzpy_spark (see perfbench/README.md)."""
