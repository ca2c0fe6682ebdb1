"""Spark operators: tiling, spatial joins, kNN, dissolve, raster payloads, media decode, splits."""
