"""The repository benchmark: seeded workloads over the public pipeline
API, checked against a DuckDB reference (see ``run.py``)."""
