"""Benchmark for the pangenome graph engine: see README.md."""
