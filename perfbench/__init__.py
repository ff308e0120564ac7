"""Benchmark of the crawl engine and corpus operators (see README.md)."""
