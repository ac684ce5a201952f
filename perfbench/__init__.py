"""Benchmark for the dedup engine: see README.md in this directory."""
