"""6-param affine pixel→CRS transform as pure Spark column math.

The reference wraps rasterio's ``src.xy``
(georip/geoprocessing/conversion.py:10-58) and builds tile footprints
by transforming 4 window corners (create_tile_polygon,
georip/geometry/polygons.py:217-249). That is closed-form over the
affine 6-tuple — no UDF needed; these helpers keep it inside
whole-stage codegen (operators/tiling.py's footprint).

Affine convention (rasterio/GDAL): for pixel (col, row),
    x = a*col + b*row + c
    y = d*col + e*row + f
"""

from __future__ import annotations

from pyspark.sql import Column


def px_to_x(t: Column, col: Column, row: Column) -> Column:
    return t["a"] * col + t["b"] * row + t["c"]


def px_to_y(t: Column, col: Column, row: Column) -> Column:
    return t["d"] * col + t["e"] * row + t["f"]

