"""Benchmark of the config-driven ingest chain and a query-catalog slice
(see ``perfbench/run.py``)."""
