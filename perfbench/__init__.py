"""Benchmark of bqfetch_spark: chunked fetch and a registry query mix."""
