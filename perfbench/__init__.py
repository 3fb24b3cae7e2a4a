"""Seeded load generator and checker for ``index_spark`` (see README.md)."""
