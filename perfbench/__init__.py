"""Benchmark of the follower ETL and the analytics catalog (see README.md)."""
