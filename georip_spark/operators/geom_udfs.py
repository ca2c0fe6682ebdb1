"""Arrow-batched pandas UDFs wrapping the numpy geometry kernels.

The pipeline's hot path runs none of them: the dim prepare is JVM
column math (operators/jvm_wkt.py) and so is the clip
(operators/jvm_clip.py). ``geom_bounds`` and ``clip_and_normalize``
are the tests' parity oracles for those two; ``rect_intersects`` and
``clip_to_rect`` serve ``spatial_join_tiles_regions``' optional
``refine`` / ``clip`` steps on candidate pairs, and the rest are
column ops (repair, CRS transform) with no JVM twin. Per-batch WKT
parse results are memoized (the dim side repeats the same geometry
across many candidate rows in a batch).

Reference semantics: shapely `.intersects` / `.intersection` calls at
georip/geoprocessing/mapping.py:259-261, sparse test at
georip/geometry/polygons.py:357-408.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from georip_spark.geo import kernels, wkt

_BOUNDS_SCHEMA = T.StructType(
    [
        T.StructField("minx", T.DoubleType()),
        T.StructField("miny", T.DoubleType()),
        T.StructField("maxx", T.DoubleType()),
        T.StructField("maxy", T.DoubleType()),
        T.StructField("is_empty", T.BooleanType()),
        T.StructField("is_valid", T.BooleanType()),
        T.StructField("area", T.DoubleType()),
        T.StructField("is_rect_blccw", T.BooleanType()),
        # per-part shell rings (unclosed, interleaved x0,y0,x1,y1,…) —
        # parsed ONCE on the dim side so the JVM clip fast path never
        # needs the WKT string (or any Python) on the fact-sized pair
        # stream; has_holes gates the rows that take the hole-aware
        # JVM clip (jvm_clip.clip_normalize_coords_mp)
        T.StructField("shells", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("has_holes", T.BooleanType()),
    ]
)


def _is_rect_blccw(mp) -> bool:
    """True iff the geometry is a single axis-aligned rectangle ring
    in the canonical convention: closed 5-point ring starting at the
    bottom-left corner, counter-clockwise in (x, y). For such
    geometries clip+normalize is pure arithmetic (the JVM fast path
    in pipeline.build_labels) — the Sutherland–Hodgman output order is
    provably (property-swept vs the kernel, 0 mismatches) BL-start
    when the bottom edge survives the clip and BR-start when it is
    clipped, matching the driver oracle's CASE in _q31_sql."""
    if len(mp) != 1 or len(mp[0]) != 1:
        return False
    r = mp[0][0]
    if r.shape != (5, 2) or not np.array_equal(r[0], r[4]):
        return False
    x0, y0 = r[0]
    x1, y1 = r[1]
    x2, y2 = r[2]
    x3, y3 = r[3]
    return bool(
        y1 == y0 and x2 == x1 and y3 == y2 and x3 == x0
        and x1 > x0 and y2 > y0
    )


def _unclosed_shell(ring) -> list[float]:
    """Shell vertices with the closing point stripped (the EXACT
    precondition clip_ring_to_rect applies: drop ring[-1] iff it
    equals ring[0]), flattened [x0, y0, x1, y1, …] for a compact
    Arrow array column."""
    pts = ring[:-1] if len(ring) > 1 and np.array_equal(ring[0], ring[-1]) else ring
    return [float(v) for v in pts.ravel()]


def _memo_parse(series: pd.Series) -> list:
    memo: dict[str, object] = {}
    out = []
    for s in series:
        if s not in memo:
            try:
                memo[s] = wkt.parse_wkt(s)
            except (ValueError, IndexError):
                memo[s] = []
        out.append(memo[s])
    return out


@pandas_udf(_BOUNDS_SCHEMA)
def geom_bounds(geom_wkt: pd.Series) -> pd.DataFrame:
    """WKT → (bounds, emptiness, cheap validity, area) in one pass."""
    rows = []
    for mp in _memo_parse(geom_wkt):
        if not mp:
            rows.append((np.nan, np.nan, np.nan, np.nan, True, False, 0.0,
                         False, [], False))
        else:
            b = kernels.bounds(mp)
            rows.append(
                (*b, False, any(kernels.is_valid_polygon(p) for p in mp),
                 kernels.multipolygon_area(mp), _is_rect_blccw(mp),
                 [_unclosed_shell(p[0]) for p in mp if p],
                 any(len(p) > 1 for p in mp))
            )
    return pd.DataFrame(
        rows,
        columns=["minx", "miny", "maxx", "maxy", "is_empty", "is_valid",
                 "area", "is_rect_blccw", "shells", "has_holes"],
    )


@pandas_udf(T.BooleanType())
def rect_intersects(
    geom_wkt: pd.Series, minx: pd.Series, miny: pd.Series, maxx: pd.Series, maxy: pd.Series
) -> pd.Series:
    """Exact tile-footprint ∩ geometry test (boundary-inclusive).

    Batched per distinct geometry: one WKT parse + one vectorized
    numpy pass over all rects that share it (the dim side repeats
    heavily in candidate batches), not a Python loop per row."""
    df = pd.DataFrame({
        "g": geom_wkt,
        "a": minx.astype(float).values, "b": miny.astype(float).values,
        "c": maxx.astype(float).values, "d": maxy.astype(float).values,
    })
    out = np.zeros(len(df), dtype=bool)
    for g, grp in df.groupby("g", sort=False):
        try:
            mp = wkt.parse_wkt(g)
        except (ValueError, IndexError):
            mp = []
        if mp:
            out[grp.index] = kernels.rects_intersect_multipolygon(
                mp, grp["a"].values, grp["b"].values, grp["c"].values, grp["d"].values
            )
    return pd.Series(out)


@pandas_udf(T.StringType())
def clip_to_rect(
    geom_wkt: pd.Series, minx: pd.Series, miny: pd.Series, maxx: pd.Series, maxy: pd.Series
) -> pd.Series:
    """geometry ∩ tile rect → WKT ('POLYGON EMPTY' when disjoint —
    the reference's unmatched-tile row shape,
    georip/geoprocessing/mapping.py:263-265)."""
    mps = _memo_parse(geom_wkt)
    return pd.Series(
        [
            wkt.to_wkt(kernels.clip_multipolygon_to_rect(mp, a, b, c, d))
            for mp, a, b, c, d in zip(mps, minx, miny, maxx, maxy)
        ]
    )


@pandas_udf(T.ArrayType(T.DoubleType()))
def clip_and_normalize(
    geom_wkt: pd.Series,
    minx: pd.Series,
    miny: pd.Series,
    maxx: pd.Series,
    maxy: pd.Series,
) -> pd.Series:
    """Clip geometry to the tile rect and return the outer-shell
    vertices of the largest clipped polygon normalized to tile pixel
    space: [u0, v0, u1, v1, ...] with u = (x−minx)/w, v = (maxy−y)/h
    (raster row axis points down). Rounded to 6 decimals — the
    reference's normalize_point contract
    (georip/geometry/__init__.py:96-145: round(…,6), clip to [0,1]).

    Empty intersection → null (engine filters these).
    """
    mps = _memo_parse(geom_wkt)
    out = []
    for mp, a, b, c, d in zip(mps, minx, miny, maxx, maxy):
        clipped = kernels.clip_multipolygon_to_rect(mp, a, b, c, d)
        if not clipped:
            out.append(None)
            continue
        # clip_selection_area, not polygon_area: pinned sequential
        # ring-local fold so the JVM clip path picks the identical
        # part on last-ULP area near-ties (pandas oracle matches)
        best = max(clipped, key=kernels.clip_selection_area)
        ring = best[0]
        w, h = c - a, d - b
        u = np.clip((ring[:, 0] - a) / w, 0.0, 1.0)
        v = np.clip((d - ring[:, 1]) / h, 0.0, 1.0)
        out.append(np.round(np.column_stack([u, v]).ravel(), 6).tolist())
    return pd.Series(out, dtype=object)


@pandas_udf(T.StringType())
def repair_geometry(geom_wkt: pd.Series) -> pd.Series:
    """F14 geometry repair: dedup/close rings + buffer(0)-style
    untwist of self-intersections + hole re-attachment
    (geo/repair.py; reference georip/geometry/polygons.py:297-335).
    Unparseable input → 'POLYGON EMPTY'."""
    from georip_spark.geo import repair

    out = []
    for mp in _memo_parse(geom_wkt):
        out.append(wkt.to_wkt(repair.repair_multipolygon(mp)))
    return pd.Series(out)


def _transform_geometry_impl(
    geom_wkt: pd.Series, src_crs: pd.Series, dst_crs: pd.Series,
    allow_approx: bool,
) -> pd.Series:
    from georip_spark.geo import crs as C

    mps = _memo_parse(geom_wkt)
    out = []
    for mp, s, d in zip(mps, src_crs, dst_crs):
        if s == d or not mp:
            out.append(wkt.to_wkt(mp))
            continue
        moved = [
            [
                np.column_stack(
                    C.transform_xy(r[:, 0], r[:, 1], s, d,
                                   allow_approx=allow_approx)
                )
                for r in poly
            ]
            for poly in mp
        ]
        out.append(wkt.to_wkt(moved))
    return pd.Series(out)


@pandas_udf(T.StringType())
def transform_geometry(
    geom_wkt: pd.Series, src_crs: pd.Series, dst_crs: pd.Series
) -> pd.Series:
    """CRS alignment column op (reference `to_crs`,
    georip/geoprocessing/utils.py:425-427): every ring coordinate is
    transformed src→dst (UTM zones via geo/crs.py numpy transverse
    mercator). Identity CRSs short-circuit. One vectorized numpy pass
    per geometry inside the Arrow batch. Grid-only datums (NAD27)
    raise here — use :data:`transform_geometry_approx` to accept the
    EPSG grid-free Helmert fallback at its published accuracy."""
    return _transform_geometry_impl(geom_wkt, src_crs, dst_crs, False)


@pandas_udf(T.StringType())
def transform_geometry_approx(
    geom_wkt: pd.Series, src_crs: pd.Series, dst_crs: pd.Series
) -> pd.Series:
    """:data:`transform_geometry` with ``allow_approx=True`` — accepts
    datums whose best published transform is a distortion grid this
    environment can't ship (NAD27 → ~5 m EPSG:1173 Helmert)."""
    return _transform_geometry_impl(geom_wkt, src_crs, dst_crs, True)


# The functions are pure, but marking them non-deterministic stops
# Catalyst from (a) duplicating an Arrow eval when a filter or a
# struct-field expansion references its output and (b) hoisting it
# below joins that would feed it more rows — both observed in practice
# (clip ran twice pre-class-filter; geom_bounds ran twice when its
# struct was expanded into bbox + cover branches).
clip_and_normalize = clip_and_normalize.asNondeterministic()
geom_bounds = geom_bounds.asNondeterministic()
repair_geometry = repair_geometry.asNondeterministic()
transform_geometry = transform_geometry.asNondeterministic()
transform_geometry_approx = transform_geometry_approx.asNondeterministic()

