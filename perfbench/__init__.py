"""Seeded end-to-end benchmark of the prosearch_spark engine (see README.md)."""
