"""Lakehouse benchmark: workloads, input generator, checks and tracing."""
