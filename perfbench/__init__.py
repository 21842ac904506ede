"""Benchmark for document_extraction_spark; see README.md here."""
