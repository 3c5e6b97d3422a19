"""Benchmark of fide_crawler_spark: see README.md."""
