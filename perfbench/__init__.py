"""Seeded end-to-end and per-layer benchmark for the ETL path and the
registry query surface.  Entry point: ``python3 perfbench/run.py``; see
``perfbench/README.md``."""
