"""Closed-loop benchmark of the hnsw_spark library: see README.md."""
