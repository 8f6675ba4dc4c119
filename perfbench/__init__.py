"""Benchmark for the engine: workloads, inputs, checks and tracing (see RATIONALE.md)."""
