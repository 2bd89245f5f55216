"""Benchmark of the KG-construction engine; entry point: run.py."""
