"""Minimal WKT parser/serializer for POLYGON / MULTIPOLYGON / POINT.

The reference stores geometry as shapely objects and round-trips WKT
for CSV I/O (georip/io/geoprocessing.py:28-31,
georip/geometry/polygons.py:252-294 parses point-list strings). Here
WKT strings are the engine's at-rest geometry encoding (a plain Spark
StringType column) and numpy ring arrays are the in-kernel encoding.

A *polygon* is ``list[np.ndarray]`` — ring 0 is the outer shell,
rings 1.. are holes; each ring is an (n, 2) float64 array whose first
and last vertex coincide. A *multipolygon* is ``list[polygon]``.
Parsing always returns the multipolygon form for uniformity.
"""

from __future__ import annotations

import re

import numpy as np

Ring = np.ndarray
Polygon = list[Ring]
MultiPolygon = list[Polygon]


def _parse_ring(body: str) -> Ring:
    pts = []
    for pair in body.split(","):
        xy = pair.split()
        pts.append((float(xy[0]), float(xy[1])))  # Z dropped if present
    return np.asarray(pts, dtype=np.float64)


def _split_top(body: str) -> list[str]:
    """Split a parenthesized list at depth-0 commas."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(body[start:i])
            start = i + 1
    parts.append(body[start:])
    return parts


def _strip_parens(s: str) -> str:
    s = s.strip()
    if not (s.startswith("(") and s.endswith(")")):
        raise ValueError(f"malformed WKT fragment: {s[:40]!r}")
    return s[1:-1]


def parse_wkt(wkt: str | None) -> MultiPolygon:
    """Parse WKT → multipolygon ring lists. EMPTY/None/'' → []."""
    if wkt is None:
        return []
    s = wkt.strip()
    if not s or s.upper().endswith("EMPTY"):
        return []
    m = re.match(r"\s*(POLYGON|MULTIPOLYGON|POINT)\s*[ZM]*\s*\((.*)\)\s*$", s, re.S | re.I)
    if not m:
        raise ValueError(f"unsupported WKT: {s[:60]!r}")
    kind, body = m.group(1).upper(), m.group(2)
    if kind == "POINT":
        xy = body.split()
        return [[np.asarray([[float(xy[0]), float(xy[1])]], dtype=np.float64)]]
    if kind == "POLYGON":
        rings = [_parse_ring(_strip_parens(r)) for r in _split_top(body)]
        return [rings]
    # MULTIPOLYGON: body = (ring,ring),(ring),...
    polys: MultiPolygon = []
    for poly_s in _split_top(body):
        rings_body = _strip_parens(poly_s)
        polys.append([_parse_ring(_strip_parens(r)) for r in _split_top(rings_body)])
    return polys


def _fmt_num(v: float) -> str:
    # repr keeps full float precision but prints integers compactly
    return f"{v:.10g}"


def _fmt_ring(ring: Ring) -> str:
    return "(" + ", ".join(f"{_fmt_num(x)} {_fmt_num(y)}" for x, y in ring) + ")"


def to_wkt(mp: MultiPolygon) -> str:
    """Serialize a multipolygon. [] → 'POLYGON EMPTY' (reference emits
    empty Polygon rows for unmatched tiles, georip/geoprocessing/
    mapping.py:263-265)."""
    mp = [p for p in mp if p and len(p[0]) > 0]
    if not mp:
        return "POLYGON EMPTY"
    if len(mp) == 1:
        return "POLYGON (" + ", ".join(_fmt_ring(r) for r in mp[0]) + ")"
    body = ", ".join(
        "(" + ", ".join(_fmt_ring(r) for r in poly) + ")" for poly in mp
    )
    return "MULTIPOLYGON (" + body + ")"


def box_wkt(minx: float, miny: float, maxx: float, maxy: float) -> str:
    """Axis-aligned rectangle as CCW WKT polygon (shapely.box order)."""
    ring = np.asarray(
        [[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy], [minx, miny]],
        dtype=np.float64,
    )
    return to_wkt([[ring]])
