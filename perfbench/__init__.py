"""Benchmark for slowspark: see README.md in this directory."""
