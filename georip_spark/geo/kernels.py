"""Vectorized geometry kernels (numpy only).

These are the exact-refinement kernels behind the Arrow UDFs in
operators/geom_udfs.py. The pipeline runs their JVM mirrors
(operators/jvm_clip.py, operators/jvm_wkt.py); these kernels are the
tests' parity oracle for them.
Everything operates on the ring-list representation from
``georip_spark.geo.wkt``.

Reference semantics reimplemented (with provenance):
- point-in-polygon / intersects — shapely calls at
  georip/geoprocessing/mapping.py:259, georip/geoprocessing/utils.py:230
- polygon∩rectangle clip — ``gdf.intersection(tile_polygon)`` at
  georip/geoprocessing/mapping.py:259-261 (tiles are axis-aligned)
- is_sparse_polygon — georip/geometry/polygons.py:357-408
- bounds/bbox — shapely ``geom.bounds`` at
  georip/geoprocessing/mapping.py:183
"""

from __future__ import annotations

import numpy as np

from georip_spark.geo.wkt import MultiPolygon, Polygon, Ring

# ---------------------------------------------------------------- area


def ring_area(ring: Ring) -> float:
    """Signed shoelace area (CCW positive)."""
    if len(ring) < 3:
        return 0.0
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def seq_ring_area(ring: Ring) -> float:
    """Signed shoelace area summed STRICTLY SEQUENTIALLY (left fold).

    Same mathematical value as ``ring_area`` but with a pinned
    accumulation order: ``np.sum`` switches to pairwise summation for
    longer arrays, whose last-ULP result a Catalyst ``aggregate`` left
    fold cannot reproduce. The clip fast path re-implements clipping
    as JVM column math and must agree with the kernel BIT-FOR-BIT on
    the zero-area floor and the largest-part selection, so both sides
    use this fold."""
    n = len(ring)
    if n < 3:
        return 0.0
    x, y = ring[:, 0], ring[:, 1]
    acc = 0.0
    for i in range(n):
        j = i + 1 if i + 1 < n else 0
        acc += float(x[i]) * float(y[j]) - float(x[j]) * float(y[i])
    return 0.5 * acc


def clip_selection_area(poly: Polygon) -> float:
    """Largest-clipped-part selection key: |shell| − Σ|holes|, each
    ring's shoelace computed SEQUENTIALLY in ring-local coordinates
    (shifted by its first vertex) — the same fold the JVM clip fast
    path computes, so Python-kernel and column-math paths pick the
    same part even on last-ULP near-ties."""
    if not poly:
        return 0.0
    a = abs(seq_ring_area(poly[0] - poly[0][0]))
    for hole in poly[1:]:
        a -= abs(seq_ring_area(hole - hole[0]))
    return a


def polygon_area(poly: Polygon) -> float:
    """Unsigned area: |outer| − Σ|holes|."""
    if not poly:
        return 0.0
    a = abs(ring_area(poly[0]))
    for hole in poly[1:]:
        a -= abs(ring_area(hole))
    return a


def multipolygon_area(mp: MultiPolygon) -> float:
    return sum(polygon_area(p) for p in mp)


def bounds(mp: MultiPolygon) -> tuple[float, float, float, float]:
    """(minx, miny, maxx, maxy); empty → (nan,)*4."""
    if not mp:
        return (np.nan,) * 4
    pts = np.vstack([r for poly in mp for r in poly])
    return (
        float(pts[:, 0].min()),
        float(pts[:, 1].min()),
        float(pts[:, 0].max()),
        float(pts[:, 1].max()),
    )


# ------------------------------------------------------ point in polygon


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: Ring) -> np.ndarray:
    """Vectorized crossing-number test: bool mask, boundary counts IN.

    Crossing number over all edges at once: (len(points), len(edges))
    broadcast — candidate sets are small post cell-join, so the O(n·m)
    dense form beats per-edge Python loops.
    """
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    px = px[:, None]
    py = py[:, None]
    cond = (y0 > py) != (y1 > py)
    # x coordinate of edge at py (safe: cond guarantees y1 != y0)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + (py - y0) * (x1 - x0) / np.where(y1 == y0, np.inf, y1 - y0)
    inside = np.sum(cond & (px < xint), axis=1) % 2 == 1
    # boundary: point on an edge → treat as inside (shapely intersects
    # semantics include touching)
    on = _points_on_segments(px, py, x0, y0, x1, y1)
    return inside | on


def _points_on_segments(px, py, x0, y0, x1, y1, eps: float = 1e-9) -> np.ndarray:
    dx, dy = x1 - x0, y1 - y0
    cross = (px - x0) * dy - (py - y0) * dx
    dot = (px - x0) * dx + (py - y0) * dy
    seg_len2 = dx * dx + dy * dy
    on = (np.abs(cross) <= eps * np.maximum(1.0, np.sqrt(seg_len2))) & (
        dot >= -eps
    ) & (dot <= seg_len2 + eps)
    return np.any(on, axis=1)


def points_in_polygon(px: np.ndarray, py: np.ndarray, poly: Polygon) -> np.ndarray:
    if not poly:
        return np.zeros(len(px), dtype=bool)
    mask = points_in_ring(px, py, poly[0])
    for hole in poly[1:]:
        # strictly inside a hole → out; on hole boundary → still in
        in_hole = points_in_ring(px, py, hole)
        on_hole = _ring_boundary_mask(px, py, hole)
        mask &= ~(in_hole & ~on_hole)
    return mask


def _ring_boundary_mask(px, py, ring: Ring) -> np.ndarray:
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    return _points_on_segments(px[:, None], py[:, None], x0, y0, x1, y1)


def points_in_multipolygon(px, py, mp: MultiPolygon) -> np.ndarray:
    mask = np.zeros(len(px), dtype=bool)
    for poly in mp:
        mask |= points_in_polygon(px, py, poly)
    return mask


# ------------------------------------------------------- clip to rect


def clip_ring_to_rect(ring: Ring, minx, miny, maxx, maxy) -> Ring | None:
    """Sutherland–Hodgman clip of one ring against an axis-aligned rect.

    Valid because the clip window is convex. Returns a closed ring or
    None when the intersection is empty/degenerate.
    """
    pts = ring[:-1] if len(ring) > 1 and np.array_equal(ring[0], ring[-1]) else ring
    for axis, bound, keep_ge in (
        (0, minx, True),
        (0, maxx, False),
        (1, miny, True),
        (1, maxy, False),
    ):
        if len(pts) == 0:
            return None
        coords = pts[:, axis]
        inside = coords >= bound if keep_ge else coords <= bound
        nxt = np.roll(np.arange(len(pts)), -1)
        out: list[np.ndarray] = []
        for i in range(len(pts)):
            j = nxt[i]
            p, q = pts[i], pts[j]
            pin, qin = inside[i], inside[j]
            if pin:
                out.append(p)
            if pin != qin:
                t = (bound - p[axis]) / (q[axis] - p[axis])
                ip = p + t * (q - p)
                # the crossing lies ON the clip line by construction —
                # assign the bound exactly instead of keeping the
                # interpolation's last-ULP error, so degenerate
                # intersections collapse to true zero-area rings
                ip[axis] = bound
                out.append(ip)
        pts = np.asarray(out) if out else np.empty((0, 2))
    if len(pts) < 3:
        return None
    closed = np.vstack([pts, pts[:1]])
    # Zero-area test in RING-LOCAL coordinates: shoelace terms round at
    # ~eps·(coordinate magnitude)², so computed on absolute coords a
    # UTM-northing ring (~1e7) has a floor of square METRES and real
    # thin slivers get dropped (the reference's shapely clip keeps
    # them). Shifting by the first vertex is relative-error-exact
    # (fl(a−b)=(a−b)(1+δ)), so local coords carry error ≤ eps·extent
    # and the floor scales with the ring's EXTENT, not its position —
    # near machine epsilon for small clips anywhere on the globe,
    # while exact-touch degenerate rings (crossings snapped onto the
    # clip line above) still collapse to true zero.
    local = closed - closed[0]
    ext = float(np.max(np.abs(local)))
    m = max(1.0, ext)
    tol = 4.0 * len(closed) * np.finfo(np.float64).eps * m * m
    # seq_ring_area: pinned left-fold order so the JVM clip fast path
    # can reproduce the drop/keep decision bit-for-bit
    if abs(seq_ring_area(local)) <= tol:
        return None
    return closed


def clip_multipolygon_to_rect(mp: MultiPolygon, minx, miny, maxx, maxy) -> MultiPolygon:
    """Clip every polygon (outer + holes, each ring independently —
    correct for convex windows) to the rect. Empty result → []."""
    out: MultiPolygon = []
    for poly in mp:
        shell = clip_ring_to_rect(poly[0], minx, miny, maxx, maxy) if poly else None
        if shell is None:
            continue
        rings = [shell]
        for hole in poly[1:]:
            h = clip_ring_to_rect(hole, minx, miny, maxx, maxy)
            if h is not None:
                rings.append(h)
        out.append(rings)
    return out


def _segment_intersects_rects(x0, y0, x1, y1, minx, miny, maxx, maxy) -> np.ndarray:
    """Liang–Barsky: does segment (x0,y0)-(x1,y1) hit each axis-aligned
    rect? Vectorized over rect arrays; boundary-inclusive."""
    dx, dy = x1 - x0, y1 - y0
    u1 = np.zeros_like(minx)
    u2 = np.ones_like(minx)
    ok = np.ones(len(minx), dtype=bool)
    for p, q in (
        (-dx, x0 - minx),
        (dx, maxx - x0),
        (-dy, y0 - miny),
        (dy, maxy - y0),
    ):
        if p == 0.0:
            ok &= q >= 0.0
        else:
            t = q / p
            if p < 0:
                u1 = np.maximum(u1, t)
            else:
                u2 = np.minimum(u2, t)
    return ok & (u1 <= u2)


def rects_intersect_multipolygon(
    mp: MultiPolygon,
    minx: np.ndarray,
    miny: np.ndarray,
    maxx: np.ndarray,
    maxy: np.ndarray,
) -> np.ndarray:
    """Vectorized `.intersects` of ONE multipolygon against MANY
    axis-aligned rects (the batch refinement kernel): true iff bboxes
    overlap AND (a rect corner lies in the polygon ∨ a polygon vertex
    lies in the rect ∨ a polygon edge crosses the rect). Complete for
    polygons with holes: hole edges are tested like any edge, and the
    corner test uses hole-aware PIP. Degenerate rects (points) reduce
    to plain PIP."""
    n = len(minx)
    if not mp or n == 0:
        return np.zeros(n, dtype=bool)
    bminx, bminy, bmaxx, bmaxy = bounds(mp)
    alive = (minx <= bmaxx) & (maxx >= bminx) & (miny <= bmaxy) & (maxy >= bminy)
    out = np.zeros(n, dtype=bool)
    if not alive.any():
        return out
    idx = np.nonzero(alive)[0]
    mnx, mny, mxx, mxy = minx[idx], miny[idx], maxx[idx], maxy[idx]
    hit = np.zeros(len(idx), dtype=bool)

    # (1) polygon vertex inside rect
    for poly in mp:
        for ring in poly:
            vx, vy = ring[:, 0], ring[:, 1]
            hit |= (
                (vx[:, None] >= mnx) & (vx[:, None] <= mxx)
                & (vy[:, None] >= mny) & (vy[:, None] <= mxy)
            ).any(axis=0)
    # (2) rect corner (or center) inside polygon
    todo = ~hit
    if todo.any():
        cx = np.concatenate([mnx[todo], mxx[todo], mxx[todo], mnx[todo]])
        cy = np.concatenate([mny[todo], mny[todo], mxy[todo], mxy[todo]])
        inmask = points_in_multipolygon(cx, cy, mp).reshape(4, -1).any(axis=0)
        hit[np.nonzero(todo)[0][inmask]] = True
    # (3) polygon edge crosses rect
    todo = ~hit
    if todo.any():
        t_mnx, t_mny = mnx[todo], mny[todo]
        t_mxx, t_mxy = mxx[todo], mxy[todo]
        cross = np.zeros(int(todo.sum()), dtype=bool)
        for poly in mp:
            for ring in poly:
                for i in range(len(ring) - 1):
                    rem = ~cross
                    if not rem.any():
                        break
                    cross[rem] |= _segment_intersects_rects(
                        ring[i, 0], ring[i, 1], ring[i + 1, 0], ring[i + 1, 1],
                        t_mnx[rem], t_mny[rem], t_mxx[rem], t_mxy[rem],
                    )
        hit[np.nonzero(todo)[0][cross]] = True

    out[idx] = hit
    return out


def rect_intersects_multipolygon(mp: MultiPolygon, minx, miny, maxx, maxy) -> bool:
    """shapely-`.intersects` analog for rect vs multipolygon (boundary
    touch counts). Strategy: bbox reject → nonempty clip → boundary/
    containment probes."""
    if not mp:
        return False
    bminx, bminy, bmaxx, bmaxy = bounds(mp)
    if bminx > maxx or bmaxx < minx or bminy > maxy or bmaxy < miny:
        return False
    if clip_multipolygon_to_rect(mp, minx, miny, maxx, maxy):
        return True
    # degenerate overlaps (shared edge/vertex, sliver): any polygon
    # vertex inside rect, or any rect corner inside polygon
    for poly in mp:
        for ring in poly:
            vx, vy = ring[:, 0], ring[:, 1]
            if np.any((vx >= minx) & (vx <= maxx) & (vy >= miny) & (vy <= maxy)):
                return True
    cx = np.asarray([minx, maxx, maxx, minx, (minx + maxx) / 2])
    cy = np.asarray([miny, miny, maxy, maxy, (miny + maxy) / 2])
    return bool(points_in_multipolygon(cx, cy, mp).any())


# ------------------------------------------------- validity / sparseness


def is_valid_polygon(poly: Polygon) -> bool:
    """Cheap validity: ≥4 vertices, closed, nonzero area. (The
    reference normalizes then checks shapely validity,
    georip/geometry/polygons.py:297-335; full O(n²) self-intersection
    is applied only in tests where rings are tiny.)"""
    if not poly or len(poly[0]) < 4:
        return False
    ring = poly[0]
    if not np.array_equal(ring[0], ring[-1]):
        return False
    return abs(ring_area(ring)) > 0.0


def is_sparse_multipolygon(
    mp: MultiPolygon,
    min_area: float = 1.0,
    max_aspect: float = 10.0,
) -> bool:
    """Degenerate-polygon test, mirroring the reference's
    ``is_sparse_polygon`` (georip/geometry/polygons.py:357-408): empty,
    zero extent, invalid, small, or aspect ratio > max_aspect ⇒ sparse.

    The reference divides coords by the polygon's own (w, h) and then
    compares the normalized area against min_area/(w·h); since
    normalized_area == true_area/(w·h) the scaling cancels and the test
    is exactly ``true_area < min_area`` — implemented directly here.
    """
    if not mp:
        return True
    minx, miny, maxx, maxy = bounds(mp)
    w, h = maxx - minx, maxy - miny
    if w <= 0.0 or h <= 0.0:
        return True
    if not any(is_valid_polygon(p) for p in mp):
        return True
    if multipolygon_area(mp) < min_area:
        return True
    aspect = max(w / h, h / w)
    return aspect > max_aspect


# ------------------------------------------------------- segments/bbox


def segments_to_bbox(seg: np.ndarray) -> tuple[float, float, float, float]:
    """Flat [x0,y0,x1,y1,...] → (xmin, ymin, w, h). Mirrors
    convert_segment_to_bbox (georip/modeling/utils.py:558-587), which
    raises on negative coordinates."""
    xs, ys = seg[0::2], seg[1::2]
    if np.any(xs < 0) or np.any(ys < 0):
        raise ValueError("negative coordinate in segment")
    xmin, ymin = float(xs.min()), float(ys.min())
    return xmin, ymin, float(xs.max()) - xmin, float(ys.max()) - ymin
