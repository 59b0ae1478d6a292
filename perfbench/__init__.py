"""Benchmark of the KG-construction chain: see perfbench/README.md."""
