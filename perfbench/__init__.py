"""Benchmark of the warehouse build, KPI serving and corpus ingest paths."""
