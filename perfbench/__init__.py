"""Benchmark for the engine: workloads, oracles and tracing (see README.md)."""
