"""Seeded end-to-end and per-layer benchmark of the mwmbl_spark engine."""
