"""JVM WKT stats (operators/jvm_wkt.py) vs the Arrow kernel
(geom_udfs.geom_bounds):
field-for-field parity on the synth corpus plus an adversarial WKT
sweep (whitespace variants, Z coords, EMPTY forms, POINT, holes,
multipolygons, scientific/negative numbers, malformed fragments)."""

import math

import pytest
from pyspark.sql import functions as F

from georip_spark.operators import geom_udfs
from georip_spark.operators.jvm_wkt import attach_stats

FIELDS = [
    "minx", "miny", "maxx", "maxy", "is_empty", "is_valid", "area",
    "is_rect_blccw", "rings",
]

ADVERSARIAL = [
    None,
    "",
    "   ",
    "POLYGON EMPTY",
    "polygon empty",
    "MULTIPOLYGON EMPTY",
    "POINT EMPTY",
    "POINT (1.5 2.5)",
    "POINT Z (1 2 3)",
    "point(-3.25 +4)",
    "POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))",
    "POLYGON((0 0,4 0,4 3,0 3,0 0))",
    "  POLYGON  (  ( 0 0 , 4 0 , 4 3 , 0 3 , 0 0 )  )  ",
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 3 2, 3 3, 2 3, 2 2))",
    "POLYGON Z ((0 0 1, 4 0 2, 4 3 3, 0 3 4, 0 0 1))",
    "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5)))",
    "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0), (0.5 0.5, 1 0.5, 1 1, 0.5 1, 0.5 0.5)), ((5 5, 7 5, 6 7, 5 5)))",
    "POLYGON ((1e3 -2E-2, 1.5e3 -2e-2, 1.5e3 2e2, 1e3 2e2, 1e3 -2E-2))",
    "POLYGON ((-0.0 0.0, 4 0, 4 3, -0.0 3, -0.0 0.0))",
    # unclosed ring (still parses; is_valid must be False both sides)
    "POLYGON ((0 0, 4 0, 4 3, 0 3))",
    # degenerate: 3-point closed ring (area 0 -> invalid)
    "POLYGON ((0 0, 4 0, 0 0))",
    # CW rectangle (valid but not the BL-CCW canonical rect)
    "POLYGON ((0 0, 0 3, 4 3, 4 0, 0 0))",
    # BL-CCW canonical rect (is_rect_blccw must be True both sides)
    "POLYGON ((1 1, 5 1, 5 4, 1 4, 1 1))",
    # malformed fragments -> EMPTY row on both paths
    "LINESTRING (0 0, 1 1)",
    "POLYGON",
    "POLYGON (",
    "POLYGON ((1 2, 3 4",
    "POLYGON ((x y, 1 2, 3 4, x y))",
    "POLYGON ((1, 2 3, 4 5, 1))",
    "garbage",
    "POLYGON ((1 2, 3 4, 5 6, 1 2)) trailing",
    # a stray ')' in an ignored third coordinate token
    "POLYGON ((0 0, 4 0, 4 4, 0 0 9)), (1 1, 2 1, 2 2, 1 1))",
    "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 0 9)), (1 1, 2 1, 2 2, 1 1)))",
]


# valid holed regions, in every WKT spelling the parse must accept
HOLED = [
    # whitespace variants
    "POLYGON((0 0,10 0,10 10,0 10,0 0),(2 2,3 2,3 3,2 3,2 2))",
    "POLYGON ( ( 0 0 , 10 0 , 10 10 , 0 10 , 0 0 ) ,\n\t( 2 2 , 3 2 , 3 3 , 2 3 , 2 2 ) )",
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0)\t,\t(2 2, 3 2, 3 3, 2 3, 2 2))",
    # lower-case tags
    "polygon ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 3 2, 3 3, 2 3, 2 2))",
    "multipolygon (((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 3 2, 3 3, 2 3, 2 2)))",
    # Z coordinates
    "POLYGON Z ((0 0 1, 10 0 1, 10 10 1, 0 10 1, 0 0 1), (2 2 1, 3 2 1, 3 3 1, 2 3 1, 2 2 1))",
    # a MULTIPOLYGON with one holed part, first or last
    "MULTIPOLYGON (((20 20, 22 20, 22 22, 20 20)), "
    "((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 3 2, 3 3, 2 3, 2 2)))",
    "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 3 2, 3 3, 2 3, 2 2)), "
    "((20 20, 22 20, 22 22, 20 20)))",
    # two holes in one polygon
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 3 2, 3 3, 2 3, 2 2), "
    "(5 5, 6 5, 6 6, 5 6, 5 5))",
]


def _arrow_stats(df, geom_col):
    """The Arrow kernel's stats struct, expanded to one column per field."""
    return df.withColumn("_g", geom_udfs.geom_bounds(F.col(geom_col))).select(
        "id", "_g.*"
    )


def _collect(spark, wkts, stats):
    df = spark.createDataFrame([(i, w) for i, w in enumerate(wkts)],
                               "id long, geometry string")
    out = stats(df, "geometry")
    return {r["id"]: r.asDict() for r in out.collect()}


def _eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    return a == b


def assert_parity(spark, wkts):
    jvm = _collect(spark, wkts, attach_stats)
    arrow = _collect(spark, wkts, _arrow_stats)
    for i, w in enumerate(wkts):
        for f in FIELDS:
            a, b = jvm[i][f], arrow[i][f]
            if f == "rings":
                assert a == b, f"rings mismatch on {w!r}: {a} vs {b}"
            elif f == "area":
                # strictly-sequential fold vs np.sum pairwise: last-ULP
                assert (a == b or abs(a - b) <= 1e-9 * max(1.0, abs(b))), \
                    f"area mismatch on {w!r}: {a} vs {b}"
            else:
                assert _eq(a, b), f"{f} mismatch on {w!r}: {a} vs {b}"


def test_adversarial_parity(spark):
    assert_parity(spark, ADVERSARIAL + HOLED)


def test_synth_corpus_parity(spark):
    from georip_spark import synth

    rasters = synth.synth_rasters(spark, 300)
    regions = synth.synth_regions(spark, rasters, polys_per_doc=3)
    wkts = [r[0] for r in regions.select("geometry").collect()]
    assert len(wkts) >= 600
    assert_parity(spark, wkts[:600])


def test_prepare_regions_plan_has_no_python(spark):
    """The dim-prepare path must be whole-JVM: no ArrowEvalPython /
    BatchEvalPython node in prepare_regions' physical plan, and the
    parse must appear under a single Generate (inline) node so
    CollapseProject cannot duplicate it per projected field."""
    from georip_spark import synth
    from georip_spark.operators.joins import prepare_regions

    rasters = synth.synth_rasters(spark, 20)
    regions = synth.synth_regions(spark, rasters, polys_per_doc=3)
    plan = prepare_regions(regions)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Generate inline" in plan


@pytest.mark.parametrize("wkt_s,valid,rect,holes", [
    ("POLYGON ((1 1, 5 1, 5 4, 1 4, 1 1))", True, True, False),
    ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 3 2, 3 3, 2 3, 2 2))",
     True, False, True),
    ("POINT (3 4)", False, False, False),
    ("POLYGON EMPTY", False, False, False),
])
def test_jvm_flags(spark, wkt_s, valid, rect, holes):
    df = spark.createDataFrame([(wkt_s,)], "geometry string")
    r = attach_stats(df, "geometry").collect()[0]
    assert r["is_valid"] is valid
    assert r["is_rect_blccw"] is rect
    assert any(len(poly) > 1 for poly in r["rings"]) is holes
