"""Lakehouse benchmark: seeded inputs, workloads, references and tracing."""
