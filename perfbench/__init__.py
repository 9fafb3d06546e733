"""Benchmark of weaver_spark's crawl engine and query registry (see README.md)."""
