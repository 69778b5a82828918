"""Benchmark for the medallion pipeline, the query registry and the curation funnel; see README.md."""
