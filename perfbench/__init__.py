"""Benchmark of the auction-analytics engine; see README.md."""
