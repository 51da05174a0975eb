"""Repo benchmark: see perfbench/README.md."""
