"""WKT parse + geometry stats as PURE Catalyst column math — the JVM
replacement for the `geom_bounds` pandas UDF on the dim-prepare path.

Why: after the general JVM clip (operators/jvm_clip.py) landed, the
one Python stage left on the pipeline's hot path was prepare_regions'
`geom_bounds` pass — a WKT parse + bounds/area/rings pass over the
whole dim side (~19 s at 8 cores over 768k regions in the n=256k
scaling profile, scaling at only 2.7x). This module re-expresses that
pass with string splits and higher-order functions that run entirely
in the task thread: zero Arrow transfer, zero Python workers, and the
dim prepare joins the rest of the plan in whole-JVM execution.

Parsing strategy (mirrors georip_spark/geo/wkt.parse_wkt):
- tag/body via the same anchored regex (POLYGON|MULTIPOLYGON|POINT,
  optional Z/M, body inside the outermost parens);
- whitespace adjacent to structural chars '(' ')' ',' is collapsed
  (regexp_replace) so depth-aware splitting reduces to three literal
  regex splits:  polys on '))ic,((' , rings on '),(' , points on ','
  — valid because WKT's only nesting is parentheses;
- coordinates cast to double (correctly-rounded IEEE, same value
  Python float() produces); a missing/non-numeric coordinate makes
  the whole geometry parse-fail to the EMPTY row, exactly like the
  kernel path's ValueError/IndexError handler (geom_udfs._memo_parse);
- a point token that still holds '(' or ')' after the splits (a
  stray paren the literal splits did not consume) fails the geometry
  to EMPTY, as the depth parser rejects it.

Known, documented divergence from the Python parser (not reachable
from engine-serialized WKT, property-swept in test_jvm_wkt):
coordinate tokens 'inf'/'nan' parse via Python float() but cast to
NULL here → EMPTY row (safer than propagating non-finite geometry).

Bit-compatibility: the shoelace folds are STRICTLY SEQUENTIAL left
folds (kernels.seq_ring_area order: acc + (x_i*y_j - x_j*y_i)), not
np.sum's pairwise tree — `area` can differ from the kernel path in
the last ULP for long rings. No driver-checked consumer reads `area`
at sub-ULP precision (q27's geometries have exact-integer coords),
and is_valid only tests area != 0.

Plan shape: `attach_stats` expands the stats struct through
F.inline(F.array(struct)) — a Generate node — so CollapseProject can
NEVER inline one copy of the parse per projected field (the round-2
duplication trap that re-ran the clip per column; NOTES.md).

Reference semantics: shapely WKT load + .bounds/.area/.is_valid at
georip/io/geoprocessing.py:28-31, georip/geometry/polygons.py:297-335,
re-derived from scratch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TAG_RE = r"(?si)^\s*(POLYGON|MULTIPOLYGON|POINT)\s*[ZM]*\s*\((.*)\)\s*$"

# multipolygon as nested arrays: polys -> rings -> points
_MP_TYPE = "array<array<array<struct<x:double,y:double>>>>"


def _let(col: Column, fn) -> Column:
    """Evaluate `col` once, reference it many times (HOF lambda vars
    are bound once; plain column references are inlined per use)."""
    return F.get(F.transform(F.array(col), fn), 0)


def _parse_point(body: Column) -> Column:
    """POINT body -> 1-poly/1-ring/1-point mp (wkt.parse_wkt:70-72)."""
    toks = F.filter(F.split(body, r"\s+"), lambda t: t != F.lit(""))
    pt = F.struct(
        F.get(toks, 0).try_cast("double").alias("x"),
        F.get(toks, 1).try_cast("double").alias("y"),
    )
    return F.array(F.array(F.array(pt))).cast(_MP_TYPE)


def _collapse_ws(wkt: Column) -> Column:
    """Drop the whitespace around structural characters '(' ')' ','."""
    return F.regexp_replace(wkt, r"\s*([(),])\s*", "$1")


def _parse_poly_body(mpbody: Column) -> Column:
    """Normalized multipolygon body -> mp arrays (nulls where a
    coordinate fails to cast; the caller turns those into EMPTY)."""
    # collapse whitespace around structural characters, then strip
    # the outer '((' … '))' so three literal splits do the nesting
    nb = _collapse_ws(mpbody)

    def parse_pt(pt_s: Column) -> Column:
        toks = F.filter(F.split(pt_s, r"\s+"), lambda t: t != F.lit(""))
        pt = F.struct(
            F.get(toks, 0).try_cast("double").alias("x"),
            F.get(toks, 1).try_cast("double").alias("y"),
        )
        # a stray paren (even in an ignored third token) nulls the
        # POINT, which the caller's `bad` test turns into EMPTY; a null
        # ring would slip past it (exists over a flatten with a null
        # element is null)
        return F.when(~pt_s.rlike("[()]"), pt)

    def parse_ring(ring_s: Column) -> Column:
        return F.transform(F.split(ring_s, r","), parse_pt)

    def parse_poly(poly_s: Column) -> Column:
        return F.transform(F.split(poly_s, r"\),\("), parse_ring)

    ok = nb.startswith("((") & nb.endswith("))")
    inner = F.substring(nb, 3, F.length(nb) - 4)
    polys = F.transform(F.split(inner, r"\)\),\(\("), parse_poly)
    return F.when(ok, polys).otherwise(F.lit(None).cast(_MP_TYPE))


def parse_mp_expr(wkt_col: Column) -> Column:
    """WKT string -> multipolygon arrays; EMPTY/blank/null/malformed
    all map to the empty multipolygon (geom_udfs._memo_parse
    contract: parse failures are swallowed to [])."""
    empty = F.array().cast(_MP_TYPE)

    def build(s: Column) -> Column:
        tag = F.upper(F.regexp_extract(s, _TAG_RE, 1))
        body = F.regexp_extract(s, _TAG_RE, 2)
        mpbody = F.when(tag == "POLYGON", F.concat(F.lit("("), body, F.lit(")"))).otherwise(body)
        raw = (
            F.when(s == "", empty)
            .when(F.upper(s).endswith("EMPTY"), empty)
            .when(tag == "POINT", _parse_point(body))
            .when(tag != "", _parse_poly_body(mpbody))
            .otherwise(empty)
        )
        # a null/missing coordinate anywhere fails the WHOLE geometry
        # to [] — same blast radius as the kernel path's ValueError
        bad = F.exists(
            F.flatten(F.flatten(raw)),
            lambda p: p["x"].isNull() | p["y"].isNull(),
        )
        return F.when(raw.isNull() | bad, empty).otherwise(raw)

    return _let(F.trim(F.coalesce(wkt_col, F.lit(""))), build)


def _seq_shoelace(ring: Column) -> Column:
    """Signed shoelace area of a CLOSED ring, strictly-sequential left
    fold in kernels.seq_ring_area's exact accumulation order."""
    def fold(pts: Column) -> Column:
        n = F.size(pts)

        def step(acc: Column, i: Column) -> Column:
            j = F.when(i == n - 1, F.lit(0)).otherwise(i + 1)
            p = F.get(pts, i)
            q = F.get(pts, j)
            return acc + (p["x"] * q["y"] - q["x"] * p["y"])

        return F.when(n < 3, F.lit(0.0)).otherwise(
            F.aggregate(F.sequence(F.lit(0), n - 1), F.lit(0.0), step)
            * F.lit(0.5)
        )

    return _let(ring, fold)


def _polygon_area(poly: Column) -> Column:
    """|shell| − Σ|holes| (kernels.polygon_area)."""
    def body(p: Column) -> Column:
        shell = F.abs(_seq_shoelace(F.get(p, 0)))
        holes = F.aggregate(
            F.slice(p, 2, F.greatest(F.size(p) - 1, F.lit(0))),
            F.lit(0.0),
            lambda acc, h: acc + F.abs(_seq_shoelace(h)),
        )
        return F.when(F.size(p) == 0, F.lit(0.0)).otherwise(shell - holes)

    return _let(poly, body)


def _closed(ring: Column) -> Column:
    f, l = F.get(ring, 0), F.get(ring, F.size(ring) - 1)
    return (f["x"] == l["x"]) & (f["y"] == l["y"])


def _is_rect_blccw_expr(mp: Column) -> Column:
    """Single closed 5-point axis-aligned CCW rect starting bottom-left
    (geom_udfs._is_rect_blccw)."""
    def body(r: Column) -> Column:
        p = [F.get(r, i) for i in range(5)]
        return (
            (F.size(r) == 5) & _closed(r)
            & (p[1]["y"] == p[0]["y"]) & (p[2]["x"] == p[1]["x"])
            & (p[3]["y"] == p[2]["y"]) & (p[3]["x"] == p[0]["x"])
            & (p[1]["x"] > p[0]["x"]) & (p[2]["y"] > p[0]["y"])
        )

    return F.when(
        (F.size(mp) == 1) & (F.size(F.get(mp, 0)) == 1),
        _let(F.get(F.get(mp, 0), 0), body),
    ).otherwise(F.lit(False))


def _unclosed(ring: Column) -> Column:
    return F.when(
        (F.size(ring) > 1) & _closed(ring),
        F.slice(ring, 1, F.size(ring) - 1),
    ).otherwise(ring)


def geom_stats_struct(wkt_col: Column) -> Column:
    """The full geom_bounds output struct (geom_udfs._BOUNDS_SCHEMA)
    from a WKT column, all-JVM. Field-for-field contract:
    minx/miny/maxx/maxy (null when empty), is_empty, is_valid
    (any poly: closed ≥4-pt shell with nonzero area), area
    (Σ |shell|−Σ|holes|), is_rect_blccw, rings (per polygon, per
    ring — shell first, then holes in WKT order — each ring flat,
    UNCLOSED, interleaved x0,y0,…: the jvm_clip input)."""

    def build(mp: Column) -> Column:
        def stats(pts: Column) -> Column:
            xs = F.transform(pts, lambda p: p["x"])
            ys = F.transform(pts, lambda p: p["y"])
            return F.struct(
                F.array_min(xs).alias("minx"),
                F.array_min(ys).alias("miny"),
                F.array_max(xs).alias("maxx"),
                F.array_max(ys).alias("maxy"),
            )

        b = _let(F.flatten(F.flatten(mp)), stats)
        empty = F.size(mp) == 0
        area = F.aggregate(
            mp, F.lit(0.0), lambda acc, poly: acc + _polygon_area(poly)
        )
        valid = F.exists(
            mp,
            lambda poly: (F.size(poly) > 0)
            & _let(
                F.get(poly, 0),
                lambda shell: (F.size(shell) >= 4)
                & _closed(shell)
                & (F.abs(_seq_shoelace(shell)) > F.lit(0.0)),
            ),
        )
        rings = F.transform(
            mp,
            lambda poly: F.transform(
                poly,
                lambda r: F.flatten(
                    F.transform(_unclosed(r), lambda p: F.array(p["x"], p["y"]))
                ),
            ),
        )
        null_d = F.lit(None).cast("double")
        return F.struct(
            F.when(empty, null_d).otherwise(b["minx"]).alias("minx"),
            F.when(empty, null_d).otherwise(b["miny"]).alias("miny"),
            F.when(empty, null_d).otherwise(b["maxx"]).alias("maxx"),
            F.when(empty, null_d).otherwise(b["maxy"]).alias("maxy"),
            empty.alias("is_empty"),
            F.when(empty, F.lit(False)).otherwise(valid).alias("is_valid"),
            F.when(empty, F.lit(0.0)).otherwise(area).alias("area"),
            F.when(empty, F.lit(False))
            .otherwise(_is_rect_blccw_expr(mp))
            .alias("is_rect_blccw"),
            rings.alias("rings"),
        )

    return _let(parse_mp_expr(wkt_col), build)


def attach_stats(df: DataFrame, geom_col: str = "geometry") -> DataFrame:
    """df + the nine ``geom_stats_struct`` columns, all-JVM (the tests'
    Arrow oracle is geom_udfs.geom_bounds). The struct is expanded
    through F.inline (a Generate node), which evaluates the parse ONCE
    per row and is a hard CollapseProject boundary — `.select('_g.minx',
    …)` on a plain expression struct would inline one full parse per
    field."""
    from georip_spark.exprcache import cached_column

    stats = cached_column(
        ("jvm_wkt.attach_stats", geom_col),
        lambda: F.inline(F.array(geom_stats_struct(F.col(geom_col)))),
    )
    return df.select("*", stats)
