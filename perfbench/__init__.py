"""Benchmark for the BM25 engine and its query registry; see README.md."""
