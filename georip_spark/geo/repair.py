"""Geometry repair (SURVEY.md F14) — the reference's normalize /
remove_repeated_points / buffer(0) chain
(georip/geometry/polygons.py:297-335, georip/modeling/yolo/predict.py:294)
reimplemented on the numpy ring representation:

- consecutive duplicate vertices removed, rings re-closed
  (remove_repeated_points + normalize)
- self-intersecting rings split at their crossing points into simple
  loops (the buffer(0) untwist: a bowtie becomes its two triangles),
  zero-area loops dropped
- repaired hole rings re-attached to the shell that contains them;
  orphaned holes dropped

Everything is per-geometry numpy inside Arrow batches — ring sizes
are tens of vertices in this domain, so the O(n²) crossing scan is
bounded by the geometry, never the dataset.
"""

from __future__ import annotations

import numpy as np

from georip_spark.geo import kernels

Ring = np.ndarray
Polygon = list
MultiPolygon = list

_EPS = 1e-12


def dedup_ring(ring: Ring, tol: float = 1e-9) -> Ring | None:
    """Drop consecutive (near-)duplicate vertices; ensure closure.
    Returns None if fewer than 3 distinct vertices remain."""
    a = np.asarray(ring, dtype=np.float64)
    if len(a) == 0:
        return None
    keep = [0]
    for i in range(1, len(a)):
        if abs(a[i, 0] - a[keep[-1], 0]) > tol or abs(a[i, 1] - a[keep[-1], 1]) > tol:
            keep.append(i)
    a = a[keep]
    # unclose if the input was closed, then re-close explicitly
    if len(a) > 1 and abs(a[0, 0] - a[-1, 0]) <= tol and abs(a[0, 1] - a[-1, 1]) <= tol:
        a = a[:-1]
    if len(a) < 3:
        return None
    return np.vstack([a, a[:1]])


def _proper_crossings(pts: np.ndarray) -> dict[int, list[tuple[float, tuple]]]:
    """Proper (interior) crossings between non-adjacent edges of a
    closed ring walk. Returns {edge_index: [(t, (x, y)), ...]}."""
    n = len(pts)  # pts excludes the closing duplicate; edges i -> (i+1)%n
    out: dict[int, list[tuple[float, tuple]]] = {}
    for i in range(n):
        x0, y0 = pts[i]
        x1, y1 = pts[(i + 1) % n]
        for j in range(i + 1, n):
            if j == i or (j + 1) % n == i or (i + 1) % n == j:
                continue  # adjacent edges share a vertex, not a crossing
            x2, y2 = pts[j]
            x3, y3 = pts[(j + 1) % n]
            d1x, d1y = x1 - x0, y1 - y0
            d2x, d2y = x3 - x2, y3 - y2
            denom = d1x * d2y - d1y * d2x
            if abs(denom) < _EPS:
                continue
            t = ((x2 - x0) * d2y - (y2 - y0) * d2x) / denom
            u = ((x2 - x0) * d1y - (y2 - y0) * d1x) / denom
            if _EPS < t < 1 - _EPS and _EPS < u < 1 - _EPS:
                p = (x0 + t * d1x, y0 + t * d1y)
                out.setdefault(i, []).append((t, p))
                out.setdefault(j, []).append((u, p))
    return out


def split_simple_loops(ring: Ring, min_area: float = 0.0) -> list[Ring]:
    """Split a self-intersecting closed ring at its crossing points
    into simple loops (buffer(0)-style untwist). A simple input comes
    back as-is. Zero/min_area loops are dropped."""
    r = np.asarray(ring, dtype=np.float64)
    pts = r[:-1]
    crossings = _proper_crossings(pts)
    if not crossings:
        return [r] if abs(kernels.ring_area(r)) > min_area else []

    # augmented walk: original vertices + crossing points in order
    walk: list[tuple[float, float]] = []
    n = len(pts)
    for i in range(n):
        walk.append((float(pts[i, 0]), float(pts[i, 1])))
        for _, p in sorted(crossings.get(i, [])):
            walk.append((float(p[0]), float(p[1])))

    # stack walk: when a coordinate repeats, the slice between the two
    # occurrences is a simple loop — pop it, keep walking
    key = lambda p: (round(p[0], 9), round(p[1], 9))  # noqa: E731
    stack: list[tuple[float, float]] = []
    index: dict[tuple, int] = {}
    loops: list[Ring] = []
    for p in walk:
        k = key(p)
        if k in index:
            j = index[k]
            cyc = stack[j:] + [p]
            for q in stack[j + 1:]:
                index.pop(key(q), None)
            stack = stack[: j + 1]
            if len(cyc) >= 4:
                loops.append(np.asarray(cyc, dtype=np.float64))
        else:
            index[k] = len(stack)
            stack.append(p)
    if len(stack) >= 3:
        loops.append(np.asarray(stack + [stack[0]], dtype=np.float64))
    return [lp for lp in loops if abs(kernels.ring_area(lp)) > min_area]


def repair_multipolygon(mp: MultiPolygon, tol: float = 1e-9) -> MultiPolygon:
    """Full F14 repair: dedup + close + untwist every ring, then
    reassemble shells and holes (a hole attaches to the first repaired
    shell containing it; orphans are dropped)."""
    shells: list[Ring] = []
    holes: list[Ring] = []
    for poly in mp:
        for ri, ring in enumerate(poly):
            r = dedup_ring(ring, tol)
            if r is None:
                continue
            for loop in split_simple_loops(r):
                (shells if ri == 0 else holes).append(loop)
    if not shells:
        return []
    shells.sort(key=lambda s: -abs(kernels.ring_area(s)))
    out = [[s] for s in shells]
    for h in holes:
        cx = float(np.mean(h[:-1, 0]))
        cy = float(np.mean(h[:-1, 1]))
        for poly in out:
            if kernels.points_in_ring(
                np.asarray([cx]), np.asarray([cy]), poly[0]
            )[0]:
                poly.append(h)
                break
    return out
