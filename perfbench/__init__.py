"""Benchmark of the market-pulse engine: workloads, checks and tracing."""
