"""Benchmark for the flight pipeline, KPI dashboard and corpus curation."""
