"""Seeded benchmark for libpysal_spark; see README.md."""
