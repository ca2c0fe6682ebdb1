"""Spark operators: tiling, spatial joins, kNN, dissolve, raster payloads, splits."""
