"""Benchmark of liq_stream_spark: see README.md in this directory."""
