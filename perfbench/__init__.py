"""Benchmark of the token-table validator; see perfbench/README.md."""
