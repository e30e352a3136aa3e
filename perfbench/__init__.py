"""Seeded end-to-end and per-layer benchmark for pdfplucker_spark (see README.md)."""
