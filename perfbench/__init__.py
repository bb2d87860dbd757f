"""Benchmark of the dedup program: see perfbench/README.md."""
