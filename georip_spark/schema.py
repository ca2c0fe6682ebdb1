"""The output contract's StructType schemas: ``SPAN`` and ``DOCS``.

The reference is convention/column-name driven (dynamic pandas frames,
e.g. georip/geoprocessing/processing.py:14-27 passes column names as
parameters); here the docs table every entry point returns has one
fixed schema, and tests/test_pipeline_e2e.py asserts that
``build_dataset`` and ``from_docs`` emit exactly ``DOCS``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- the driver-mandated input table (BASELINE.json input_hint) --------
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType()),        # 'media' | 'text'
        T.StructField("text", T.StringType()),        # label line for text spans
        T.StructField("media_ref", T.StringType()),   # tile id for media spans
        T.StructField("offset", T.IntegerType()),     # global interleaving index
    ]
)

DOCS = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN)),
    ]
)
