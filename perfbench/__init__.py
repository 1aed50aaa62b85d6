"""Benchmark of the sparketl engine; see perfbench/README.md."""
