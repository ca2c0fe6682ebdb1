"""georip_spark — a from-scratch, PySpark-native spatial-join + tiling engine.

Reimplements the query/data-processing capabilities of the reference
(joeletho/Georip, a single-node pandas/GeoPandas raster→CNN-dataset
builder) as idiomatic Spark DataFrame operations over tables of
interleaved text+media documents:

    docs(doc_id: string,
         spans: array<struct<kind:string, text:string,
                             media_ref:string, offset:int>>)

Sub-packages
------------
geo         pure-numpy geometry kernels (WKT, point-in-polygon,
            polygon clipping, hierarchical cell index, affine math).
            No shapely / GDAL / h3 — everything vectorized numpy
            driven through Arrow-batched pandas UDFs.
operators   Spark operators: tiling, cell-indexed spatial joins, kNN,
            dissolve, raster payload ops, media decode, dataset splits.
oracle      single-node pandas reimplementation of the reference
            semantics, used as the pytest parity oracle
            (the reference itself ships no tests — SURVEY.md §5).

Design notes (scale-first):
- All hot-path expressions are built-in pyspark.sql.functions (JVM,
  whole-stage codegen). Python appears only in Arrow-batched pandas
  UDFs for exact-geometry refinement, never per-row.
- Spatial joins are cell-indexed equi-joins (broadcast for small dims,
  sort-merge + AQE skew handling otherwise) with optional explicit
  salting for dense cells.
- Synthetic data generation is pure column math over spark.range —
  no driver-side loops — so the same generator runs at SF 1e-3 and
  SF 1e3 unchanged.
"""

__version__ = "0.1.0"

from georip_spark.session import get_spark  # noqa: F401
