"""Ingestion benchmark: seeded workloads, closed-loop timing, span tracing."""
