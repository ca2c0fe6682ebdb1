"""Pure-numpy geometry kernels.

No shapely / GDAL / h3 anywhere: WKT parsing, point-in-polygon,
polygon clipping, areas, sparse-geometry predicates and the
hierarchical planar cell index are implemented from scratch on
numpy arrays. The pipeline runs their JVM column-math mirrors
(operators/jvm_wkt.py, operators/jvm_clip.py, cells.cell_expr); the
numpy kernels are the tests' parity oracle and back the Arrow UDFs
in operators/geom_udfs.py.

Modules:
    wkt      WKT <-> ring-list parsing/serialization
    kernels  PIP, clip-to-rect, area, bounds, sparse predicate
    cells    hierarchical planar grid index (H3-like API:
             cell_of / cover_bbox / grid_disk / parent)
    affine   6-param affine pixel<->CRS transforms as Spark column math
"""

from georip_spark.geo import affine, cells, kernels, wkt  # noqa: F401
