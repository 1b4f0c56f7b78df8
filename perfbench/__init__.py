"""Benchmark of rasterframes_spark: see README.md."""
