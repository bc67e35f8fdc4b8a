"""Layered benchmark of the canary-spark engine (see perfbench/DESIGN.md)."""
