"""Benchmark for the medical ETL pipeline package; see run.py."""
