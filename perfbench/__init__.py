"""Benchmark of btrblocks_spark: workloads, generators and tracing (see run.py)."""
