"""Benchmark of the skyline engine: see README.md in this directory."""
