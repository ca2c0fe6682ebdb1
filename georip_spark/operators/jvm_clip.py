"""General polygon ∩ tile-rect clip + normalize as PURE Catalyst
column math — the whole-stage JVM replacement for the Arrow clip
kernel on arbitrary polygons and multipolygons, holed or not.

Why: the N→4N scaling profile (NOTES.md)
shows the Arrow/Python lane is the one part of the hot stage that
does not scale with cores — its effective bandwidth saturates while
pure-JVM stages track the hardware ceiling. The rect arm
(_rect_clip_coords) removed ArrowEvalPython for canonical rectangles
(~40% of the synth corpus); clip_normalize_coords removes it for
every other geometry by re-expressing kernels.clip_ring_to_rect
(Sutherland–Hodgman against an axis-aligned window) with Spark
higher-order functions over the nested ring arrays the dim side's one
WKT parse emits (jvm_wkt.geom_stats_struct's `rings`). Shells and
holes share one S-H subtree, so a holed dim plans the same clip
expression as a hole-free one. clip_case joins the two arms into the
one CASE build_labels plans.

Bit-compatibility contract with the kernel (the e2e oracle and the
hybrid plan both demand row-identical output):
- the S-H loop emits the same vertices in the same order, crossings
  computed with the same IEEE ops (t = (bound−p)/(q−p); the off-axis
  coordinate p + t·(q−p)) and the clip-axis coordinate snapped
  EXACTLY to the bound (kernels.py:155-160);
- the zero-area floor is the kernel's ring-local sequential shoelace
  (kernels.seq_ring_area — a left fold, pinned so a Catalyst
  `aggregate` reproduces it bit-for-bit; np.sum's pairwise order
  cannot be mirrored) against tol = 4·len(closed)·eps·max(1,ext)²;
- largest-part selection uses the same fold (kernels.
  clip_selection_area: |shell| − Σ|holes|) with strictly-greater
  replacement, so Python's first-wins tie behavior is preserved;
- normalization clips to [0,1] and rounds half-even via the
  branch-free (s+2^52)−2^52 rint — the janino-safe idiom from the
  rect path (a CASE version overflowed codegen; NOTES.md round 4).

Evaluation shape: higher-order functions run interpreted but entirely
JVM-side in the task thread — they scale with cores and move zero
bytes to Python workers. Every intermediate (the four half-plane
passes, the surviving ring) is let-bound through a single-element
``transform`` so multi-reference does NOT re-evaluate the pipeline
(the CollapseProject duplication trap, NOTES.md round 2/4).

Reference semantics: shapely ``gdf.intersection(tile_polygon)`` at
georip/geoprocessing/mapping.py:259-261 with normalize_point rounding
(georip/geometry/__init__.py:96-145), re-derived from scratch.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_EPS64 = 2.220446049250313e-16  # np.finfo(float64).eps
_TWO52 = 4503599627370496.0  # 2^52

_PT_TYPE = "array<struct<x:double,y:double>>"
_CAND_TYPE = (
    "struct<ok:boolean,ring:array<struct<x:double,y:double>>,area:double>"
)


def round6_even(x: Column) -> Column:
    """Bit-exact JVM mirror of ``np.round(x, 6)`` for x ∈ [0, 1]:
    scale by 1e6, rint (HALF_EVEN on the scaled BINARY double — NOT
    decimal bround), unscale. rint is the branch-free Math.rint trick
    (s + 2^52) − 2^52, exact for 0 ≤ s < 2^52 under IEEE
    round-to-nearest-even — verified against np.round on 410k values
    including exact .5 ties: 0 mismatches. Branch-free matters: a
    3-way CASE version, inlined ~20× by CollapseProject, overflowed
    janino and dropped the stage to interpreted mode."""
    s = x * F.lit(1000000.0)
    return ((s + F.lit(_TWO52)) - F.lit(_TWO52)) / F.lit(1000000.0)


def _clip01(c: Column) -> Column:
    return F.greatest(F.lit(0.0), F.least(F.lit(1.0), c))


def _let(col: Column, fn) -> Column:
    """Let-binding for Catalyst expressions: a HOF lambda variable is
    evaluated ONCE, so `fn`'s multiple references to it don't
    re-evaluate `col` (plain column references are inlined per use)."""
    return F.get(F.transform(F.array(col), fn), 0)


def _sh_pass(pts: Column, axis: int, bound: Column, keep_ge: bool) -> Column:
    """One Sutherland–Hodgman half-plane pass over an UNCLOSED vertex
    array. Mirrors the kernel's edge loop exactly: for each directed
    edge (p=pts[i], q=pts[(i+1) mod n]) emit p if p is inside, then
    the crossing if insideness changes — crossing's off-axis coord is
    p + t·(q−p) with t = (bound−p_axis)/(q_axis−p_axis), and its
    clip-axis coord is snapped exactly to `bound`
    (kernels.clip_ring_to_rect:143-160)."""

    def coord(p: Column) -> Column:
        return p["x"] if axis == 0 else p["y"]

    def other(p: Column) -> Column:
        return p["y"] if axis == 0 else p["x"]

    def inside(p: Column) -> Column:
        c = coord(p)
        return (c >= bound) if keep_ge else (c <= bound)

    def emit(i: Column) -> Column:
        n = F.size(pts)
        p = F.get(pts, i)
        q = F.get(pts, F.when(i == n - 1, F.lit(0)).otherwise(i + 1))
        t = (bound - coord(p)) / (coord(q) - coord(p))
        io = other(p) + t * (other(q) - other(p))
        if axis == 0:
            cross = F.struct(bound.alias("x"), io.alias("y"))
        else:
            cross = F.struct(io.alias("x"), bound.alias("y"))
        return F.array(
            F.when(inside(p), p),
            F.when(inside(p) != inside(q), cross),
        )

    body = F.flatten(F.transform(F.sequence(F.lit(0), F.size(pts) - 1), emit))
    guarded = (
        F.when(F.size(pts) == 0, F.array().cast(_PT_TYPE)).otherwise(body)
    )
    return F.filter(guarded, lambda s: s.isNotNull())


def _finish(p4: Column) -> Column:
    """Post-clip bookkeeping on the surviving UNCLOSED ring: the
    ring-local extent, the kernel's zero-area floor, and the signed
    sequential shoelace (the same left fold as kernels.seq_ring_area
    over the closed local ring — the closing-pair terms are exact ±0
    and IEEE addition absorbs them, so folding the unclosed ring with
    wraparound gives the identical accumulation sequence)."""
    n = F.size(p4)
    x0 = F.get(p4, 0)["x"]
    y0 = F.get(p4, 0)["y"]
    ext = F.aggregate(
        p4,
        F.lit(0.0),
        lambda acc, p: F.greatest(acc, F.abs(p["x"] - x0), F.abs(p["y"] - y0)),
    )
    m = F.greatest(F.lit(1.0), ext)
    # kernel: ((4.0·len(closed))·eps)·m·m — 4.0·len and ·eps are exact
    # dyadic products, so lit(4eps)·(n+1) is the same double
    tol = F.lit(4.0 * _EPS64) * (n + 1).cast("double") * m * m
    area = F.lit(0.5) * F.aggregate(
        F.sequence(F.lit(0), n - 1),
        F.lit(0.0),
        lambda acc, i: acc
        + (
            (F.get(p4, i)["x"] - x0)
            * (F.get(p4, F.when(i == n - 1, F.lit(0)).otherwise(i + 1))["y"] - y0)
            - (F.get(p4, F.when(i == n - 1, F.lit(0)).otherwise(i + 1))["x"] - x0)
            * (F.get(p4, i)["y"] - y0)
        ),
    )
    ok = F.when(n >= 3, F.abs(area) > tol).otherwise(F.lit(False))
    return F.struct(ok.alias("ok"), p4.alias("ring"), area.alias("area"))


def _to_pts(ring: Column) -> Column:
    """Flat [x0,y0,x1,y1,…] → array<struct<x,y>>."""
    return F.transform(
        F.sequence(F.lit(0), (F.size(ring) / 2).cast("int") - 1),
        lambda i: F.struct(
            F.get(ring, 2 * i).alias("x"), F.get(ring, 2 * i + 1).alias("y")
        ),
    )


def _clip_ring(
    ring: Column, minx: Column, miny: Column, maxx: Column, maxy: Column
) -> Column:
    """Flat UNCLOSED ring → candidate struct (ok, ring, area) after
    the kernel's four half-plane passes in the kernel's order:
    x≥minx, x≤maxx, y≥miny, y≤maxy."""
    return _let(
        _to_pts(ring),
        lambda p0: _let(
            _sh_pass(p0, 0, minx, True),
            lambda p1: _let(
                _sh_pass(p1, 0, maxx, False),
                lambda p2: _let(
                    _sh_pass(p2, 1, miny, True),
                    lambda p3: _let(_sh_pass(p3, 1, maxy, False), _finish),
                ),
            ),
        ),
    )


def _norm_closed_ring(
    ring: Column, minx: Column, maxy: Column, w: Column, h: Column
) -> Column:
    """Selected UNCLOSED ring -> closed, tile-normalized, rounded flat
    [u0, v0, ...] (the kernel's normalize contract)."""

    def norm(p: Column) -> Column:
        u = round6_even(_clip01((p["x"] - minx) / w))
        v = round6_even(_clip01((maxy - p["y"]) / h))
        return F.array(u, v)

    return _let(
        ring,
        lambda r: F.flatten(F.transform(F.concat(r, F.slice(r, 1, 1)), norm)),
    )


def clip_normalize_coords(
    rings: Column,
    minx: Column,
    miny: Column,
    maxx: Column,
    maxy: Column,
    g_bbox: tuple[Column, Column, Column, Column] | None = None,
) -> Column:
    """JVM mirror of geom_udfs.clip_and_normalize on any polygon or
    multipolygon, holed or not. ``rings`` is the stats struct's nested
    ring array (per polygon: shell first, then holes; each ring flat
    UNCLOSED [x0,y0,…] — jvm_wkt.geom_stats_struct).

    Kernel semantics mirrored exactly (kernels.clip_multipolygon_to_rect
    + clip_selection_area + geom_udfs.clip_and_normalize):
    - every ring (shell AND hole) goes through the same four-pass S-H
      and zero-area floor (one ``clip_one`` in the tree); a polygon
      whose SHELL clips away is dropped whole, a hole that clips away
      just stops subtracting;
    - the selection key is |shell| − Σ|holes| over the CLIPPED rings
      (kernels.clip_selection_area, holes in declaration order). It
      can be NEGATIVE (holes bigger than the surviving shell), so the
      max compares the key directly; for a hole-free part the key is
      |area|;
    - first-wins ties via strictly-greater replacement (Python max);
    - output = the winning polygon's SHELL, closed, normalized to tile
      space [u0, v0, u1, v1, …] and rounded half-even to 6. Null when
      every polygon clips away (the caller filters).

    g_bbox=(g_minx, g_miny, g_maxx, g_maxy): optional region bbox.
    The stats bounds cover every ring's vertices, so when the whole
    geometry sits inside the tile every S-H pass is the identity (each
    vertex inside, no crossings — the kernel emits the original vertex
    values): the four passes are skipped and only the zero-area floor
    runs. Bit-identical either way; the common case when regions are
    small relative to tiles."""
    w = maxx - minx
    h = maxy - miny
    if g_bbox is not None:
        gx0, gy0, gx1, gy1 = g_bbox
        inside = (
            (gx0 >= minx) & (gx1 <= maxx) & (gy0 >= miny) & (gy1 <= maxy)
        )
        clip_one = lambda r: F.when(  # noqa: E731
            inside, _let(_to_pts(r), _finish)
        ).otherwise(_clip_ring(r, minx, miny, maxx, maxy))
    else:
        clip_one = lambda r: _clip_ring(r, minx, miny, maxx, maxy)  # noqa: E731

    def keyed(clipped: Column) -> Column:
        # a ring-less polygon has a null shell: its null `ok` drops it
        shell = F.get(clipped, 0)
        key = F.aggregate(
            F.slice(clipped, 2, F.greatest(F.size(clipped) - 1, F.lit(0))),
            F.abs(shell["area"]),
            lambda acc, hc: acc
            - F.when(hc["ok"], F.abs(hc["area"])).otherwise(F.lit(0.0)),
        )
        return F.struct(
            shell["ok"].alias("ok"), shell["ring"].alias("ring"),
            key.alias("area"),
        )

    cands = F.filter(
        F.transform(
            rings, lambda poly: _let(F.transform(poly, clip_one), keyed)
        ),
        lambda c: c["ok"],
    )
    return F.aggregate(
        cands,
        F.lit(None).cast(_CAND_TYPE),
        lambda acc, c: F.when(
            acc.isNull() | (c["area"] > acc["area"]), c
        ).otherwise(acc),
        lambda acc: F.when(
            acc.isNotNull(),
            _norm_closed_ring(acc["ring"], minx, maxy, w, h),
        ),
    )


def _rect_clip_coords(
    minx: Column,
    miny: Column,
    maxx: Column,
    maxy: Column,
    g_bbox: tuple[Column, Column, Column, Column],
) -> Column:
    """Closed-form clip+normalize of an axis-aligned rectangle region
    (``is_rect_blccw``, bbox ``g_bbox``) against the tile rect — the
    whole-stage-codegen arm for the dominant label class of the
    contract workload.

    Bit-compatibility with ``geom_udfs.clip_and_normalize``:
    - intersection corners are the same greatest/least IEEE ops the
      Sutherland–Hodgman crossings snap to (kernels.py:158);
    - the vertex ORDER reproduces S-H exactly — BL-start when the
      region's bottom edge survives, BR-start when it is clipped
      (property-swept vs the kernel on 2.8k random overlapping
      rect pairs: 0 mismatches, including empties and the zero-area
      floor) — the same rule the driver oracle encodes in _q31_sql;
    - the ring-local zero-area floor (4·n·eps·max(1,ext)², n=5) and
      np.round's binary HALF_EVEN are mirrored exactly.

    Null when the intersection is empty/degenerate (same contract as
    the kernel)."""
    gx0, gy0, gx1, gy1 = g_bbox
    ix0 = F.greatest(gx0, minx)
    ix1 = F.least(gx1, maxx)
    iy0 = F.greatest(gy0, miny)
    iy1 = F.least(gy1, maxy)
    iw = ix1 - ix0
    ih = iy1 - iy0
    m = F.greatest(F.lit(1.0), F.greatest(iw, ih))
    tol = F.lit(20.0 * _EPS64) * m * m
    w = maxx - minx
    h = maxy - miny
    uL = round6_even(_clip01((ix0 - minx) / w))
    uR = round6_even(_clip01((ix1 - minx) / w))
    vB = round6_even(_clip01((maxy - iy0) / h))
    vT = round6_even(_clip01((maxy - iy1) / h))
    bl = F.array(uL, vB, uR, vB, uR, vT, uL, vT, uL, vB)
    br = F.array(uR, vB, uR, vT, uL, vT, uL, vB, uR, vB)
    nonempty = (ix1 > ix0) & (iy1 > iy0) & (iw * ih > tol)
    return F.when(nonempty, F.when(gy0 >= miny, bl).otherwise(br))


def clip_case() -> Column:
    """The whole clip decision of a joined (tile, region) row: the rect
    arm for canonical rectangles (``is_rect_blccw``), the hole-aware
    S-H arm over ``rings`` for every other geometry. Reads the tile
    bbox (minx/miny/maxx/maxy), the region bbox (g_minx/g_miny/
    g_maxx/g_maxy), ``is_rect_blccw`` and ``rings``; null when the
    intersection is empty or degenerate."""
    tile = (F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy"))
    g_bbox = (F.col("g_minx"), F.col("g_miny"), F.col("g_maxx"), F.col("g_maxy"))
    return F.when(
        F.col("is_rect_blccw"), _rect_clip_coords(*tile, g_bbox)
    ).otherwise(clip_normalize_coords(F.col("rings"), *tile, g_bbox=g_bbox))
