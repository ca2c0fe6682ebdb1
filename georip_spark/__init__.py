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
            No shapely / GDAL / h3. The pipeline mirrors the ones it
            needs as JVM column math; the numpy kernels are the
            tests' parity oracle and back the off-path column ops.
operators   Spark operators: tiling, cell-indexed spatial joins, kNN,
            dissolve, raster payload ops, dataset splits.
oracle      single-node pandas reimplementation of the reference
            semantics, used as the pytest parity oracle
            (the reference itself ships no tests — SURVEY.md §5).

Design notes (scale-first):
- All hot-path expressions are built-in pyspark.sql.functions (JVM,
  whole-stage codegen): the WKT parse, the geometry stats and the clip
  included. The pipeline's plan has no Python UDF stage.
- Spatial joins are cell-indexed equi-joins (broadcast for small dims,
  a shuffle-hash join otherwise) with optional explicit salting for
  dense cells.
- Synthetic data generation is pure column math over spark.range —
  no driver-side loops — so the same generator runs at SF 1e-3 and
  SF 1e3 unchanged.
"""

__version__ = "0.1.0"

from georip_spark.session import get_spark  # noqa: F401
