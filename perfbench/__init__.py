"""Benchmark for the hourly pipeline, the CDC fold and corpus dedup."""
