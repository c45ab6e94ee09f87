"""Skyline-engine benchmark (see perfbench/README.md)."""
