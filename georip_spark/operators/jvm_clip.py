"""General polygon ∩ tile-rect clip + normalize as PURE Catalyst
column math — the whole-stage JVM replacement for the Arrow clip
kernel on arbitrary (hole-free) polygons, not just rectangles.

Why: the N→4N scaling profile (NOTES.md)
shows the Arrow/Python lane is the one part of the hot stage that
does not scale with cores — its effective bandwidth saturates while
pure-JVM stages track the hardware ceiling. The rect fast path
(pipeline._rect_clip_coords) removed ArrowEvalPython for canonical
rectangles (~40% of the synth corpus); this module removes it for
EVERY hole-free geometry by re-expressing kernels.clip_ring_to_rect
(Sutherland–Hodgman against an axis-aligned window) with Spark
higher-order functions over per-part shell arrays parsed once on the
dim side (geom_udfs.geom_bounds emits `shells`).

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
  clip_selection_area) with strictly-greater replacement, so Python's
  first-wins tie behavior is preserved;
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


def _to_pts(shell: Column) -> Column:
    """Flat [x0,y0,x1,y1,…] → array<struct<x,y>>."""
    return F.transform(
        F.sequence(F.lit(0), (F.size(shell) / 2).cast("int") - 1),
        lambda i: F.struct(
            F.get(shell, 2 * i).alias("x"), F.get(shell, 2 * i + 1).alias("y")
        ),
    )


def _clip_shell(
    shell: Column, minx: Column, miny: Column, maxx: Column, maxy: Column
) -> Column:
    """Flat UNCLOSED shell → candidate struct (ok, ring, area) after
    the kernel's four half-plane passes in the kernel's order:
    x≥minx, x≤maxx, y≥miny, y≤maxy."""
    return _let(
        _to_pts(shell),
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
    shells: Column,
    minx: Column,
    miny: Column,
    maxx: Column,
    maxy: Column,
    g_bbox: tuple[Column, Column, Column, Column] | None = None,
) -> Column:
    """JVM mirror of geom_udfs.clip_and_normalize for HOLE-FREE
    geometries: clip every part's shell to the tile rect, drop parts
    failing the zero-area floor, keep the largest |area| part (first
    wins ties — strictly-greater replacement, matching Python max),
    and emit its CLOSED ring normalized to tile space
    [u0, v0, u1, v1, …], rounded half-even to 6. Null when every part
    clips away (same contract as the kernel: the caller filters).

    g_bbox=(g_minx, g_miny, g_maxx, g_maxy): optional region bbox.
    When the whole geometry sits inside the tile, every S-H pass is
    the identity (each vertex inside, no crossings — the kernel emits
    the original vertex values), so the four passes are skipped and
    only the zero-area floor + normalize run. Bit-identical either
    way; this is the common case when regions are small relative to
    tiles."""
    w = maxx - minx
    h = maxy - miny
    if g_bbox is not None:
        gx0, gy0, gx1, gy1 = g_bbox
        inside = (
            (gx0 >= minx) & (gx1 <= maxx) & (gy0 >= miny) & (gy1 <= maxy)
        )
        clip_one = lambda sh: F.when(  # noqa: E731
            inside, _let(_to_pts(sh), _finish)
        ).otherwise(_clip_shell(sh, minx, miny, maxx, maxy))
    else:
        clip_one = lambda sh: _clip_shell(sh, minx, miny, maxx, maxy)  # noqa: E731
    cands = F.filter(
        F.transform(shells, clip_one),
        lambda c: c["ok"],
    )

    return F.aggregate(
        cands,
        F.lit(None).cast(_CAND_TYPE),
        lambda acc, c: F.when(
            acc.isNull() | (F.abs(c["area"]) > F.abs(acc["area"])), c
        ).otherwise(acc),
        lambda acc: F.when(
            acc.isNotNull(),
            _norm_closed_ring(acc["ring"], minx, maxy, w, h),
        ),
    )


def clip_normalize_coords_mp(
    rings: Column,
    minx: Column,
    miny: Column,
    maxx: Column,
    maxy: Column,
    g_bbox: tuple[Column, Column, Column, Column] | None = None,
) -> Column:
    """Hole-AWARE JVM mirror of geom_udfs.clip_and_normalize: the input
    is the full nested ring structure (per polygon: shell first, then
    holes; each ring flat UNCLOSED [x0,y0,…] — jvm_wkt.rings_expr).

    Kernel semantics mirrored exactly (kernels.clip_multipolygon_to_rect
    + clip_selection_area + geom_udfs.clip_and_normalize):
    - every ring (shell AND hole) is clipped by the same four-pass S-H
      with the same zero-area floor; a polygon whose SHELL clips away
      is dropped whole; a hole that clips away just stops subtracting;
    - the selection key is |shell| − Σ|holes| over the CLIPPED rings
      (kernels.clip_selection_area — signed sequential ring-local
      shoelace, so both paths agree on last-ULP near-ties). Unlike the
      hole-free path the key can be NEGATIVE (holes bigger than the
      surviving shell), so the max compares the key DIRECTLY — which
      for hole-free parts (key = |area|) is the same ordering the
      hole-free path's abs-compare produces;
    - first-wins ties via strictly-greater replacement (Python max);
    - output = the winning polygon's SHELL, closed + normalized.

    g_bbox: same whole-geometry-inside-tile shortcut as the hole-free
    path — the stats bounds cover every ring's vertices (shell and
    holes), so `inside` makes every ring's clip the identity."""
    w = maxx - minx
    h = maxy - miny
    if g_bbox is not None:
        gx0, gy0, gx1, gy1 = g_bbox
        inside = (
            (gx0 >= minx) & (gx1 <= maxx) & (gy0 >= miny) & (gy1 <= maxy)
        )
        clip_one = lambda r: F.when(  # noqa: E731
            inside, _let(_to_pts(r), _finish)
        ).otherwise(_clip_shell(r, minx, miny, maxx, maxy))
    else:
        clip_one = lambda r: _clip_shell(r, minx, miny, maxx, maxy)  # noqa: E731

    def clip_poly(poly: Column) -> Column:
        def body(shell_c: Column) -> Column:
            holes = F.slice(poly, 2, F.greatest(F.size(poly) - 1, F.lit(0)))
            # kernel subtraction order: holes in declaration order,
            # each |seq area|; floor-failing holes contribute nothing
            key = F.aggregate(
                holes,
                F.abs(shell_c["area"]),
                lambda acc, hr: acc
                - _let(
                    clip_one(hr),
                    lambda hc: F.when(
                        hc["ok"], F.abs(hc["area"])
                    ).otherwise(F.lit(0.0)),
                ),
            )
            return F.struct(
                shell_c["ok"].alias("ok"),
                shell_c["ring"].alias("ring"),
                key.alias("area"),
            )

        # kernel skips ring-less polygons outright (`if poly else
        # None`); null candidates fall out of the ok-filter below
        return F.when(
            F.size(poly) > 0, _let(clip_one(F.get(poly, 0)), body)
        ).otherwise(F.lit(None).cast(_CAND_TYPE))

    cands = F.filter(
        F.transform(rings, clip_poly),
        lambda c: c["ok"],
    )
    return F.aggregate(
        cands,
        F.lit(None).cast(_CAND_TYPE),
        # DIRECT key compare (key may be negative; see docstring)
        lambda acc, c: F.when(
            acc.isNull() | (c["area"] > acc["area"]), c
        ).otherwise(acc),
        lambda acc: F.when(
            acc.isNotNull(),
            _norm_closed_ring(acc["ring"], minx, maxy, w, h),
        ),
    )
