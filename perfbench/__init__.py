"""Benchmark for the spending engine; see perfbench/WORKLOADS.md."""
