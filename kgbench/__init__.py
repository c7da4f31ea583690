"""Benchmark of the KG construction and corpus-QC paths; see README.md."""
