"""Benchmark of the crawl engine's own code path (see perfbench/README.md)."""
