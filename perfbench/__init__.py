"""Benchmark of the crawl engine and query registry (see run.py)."""
