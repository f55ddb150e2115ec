"""Benchmark of the PySpark full-text index + BM25 engine (see NOTES.md)."""
