"""Catalog benchmark (see README.md)."""
