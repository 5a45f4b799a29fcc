"""Benchmark of the engine's ingest, analytics and curation workloads."""
