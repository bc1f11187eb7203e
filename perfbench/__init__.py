"""Seeded benchmark for the document-extraction entry points (see README.md)."""
