"""Raster payload operators: normalize, chip-slice, rasterize,
vectorize (SURVEY.md S7/A8/R1-R3/P11).

Payloads are rows, not files: a raster's pixels live in an
array<float> column (row-major h×w), chips are sliced sub-arrays —
so every op here is either pure column math over arrays (normalize,
slice, nodata tests — JVM, codegen) or an Arrow-batched numpy kernel
(rasterize/vectorize, which are genuinely per-geometry algorithms).

Reference provenance:
- normalize to [0,1]: min-max linterp with nodata→NaN
  (georip/raster/conversion.py:12-88, georip/utils/math.py:5-40)
- nodata-only tile skip (georip/raster/tools.py:264-268)
- rasterize: PIL ImageDraw.polygon fill
  (georip/modeling/yolo/__init__.py:829-866)
- vectorize: rasterio.features.shapes / cv2.findContours
  (georip/geoprocessing/utils.py:508-529,
  georip/geometry/polygons.py:338-354)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from georip_spark.geo import wkt as W

# ------------------------------------------------------- column math


def normalize_payload(payload: Column, nodata: Column) -> Column:
    """Min-max rescale valid pixels to [0,1]; nodata → null. Pure
    higher-order-function math.

    CAVEAT: Catalyst inlines the array_min/array_max sub-expressions
    into the per-element lambda (CollapseProject; a rand()-based
    barrier gets constant-folded away), making this O(n²) per row in
    interpreted HOF evaluation (~20ms per 256-px payload). Use
    ``normalize_payload_pandas`` for bulk work — kept here as the
    dependency-free semantic reference for small arrays."""
    valid = F.filter(payload, lambda v: v != nodata)
    lo = F.array_min(valid)
    hi = F.array_max(valid)
    rng = hi - lo
    return F.transform(
        payload,
        lambda v: F.when(v == nodata, F.lit(None).cast("float")).otherwise(
            F.when(rng == 0, F.lit(0.0)).otherwise((v - lo) / rng).cast("float")
        ),
    )


@pandas_udf(T.ArrayType(T.FloatType()))
def _normalize_pandas(payload: pd.Series, nodata: pd.Series) -> pd.Series:
    out = []
    for arr, nd in zip(payload, nodata):
        a = np.asarray(arr, dtype=np.float64)
        valid = a[a != nd]
        if len(valid) == 0:
            out.append([None] * len(a))
            continue
        lo, hi = valid.min(), valid.max()
        rng = hi - lo
        scaled = np.zeros_like(a) if rng == 0 else (a - lo) / rng
        res = scaled.astype(np.float32).astype(object)
        res[a == nd] = None
        out.append(res.tolist())
    return pd.Series(out, dtype=object)


def normalize_payload_pandas(payload: Column, nodata: Column) -> Column:
    """Production normalize: one vectorized numpy pass per payload via
    Arrow batches (µs per row vs ~20ms for the interpreted HOF form).
    Identical float64 arithmetic → identical results."""
    return _normalize_pandas(payload, nodata)


def payload_stats(payload: Column, nodata: Column):
    """(min, max, n_valid) of non-nodata pixels (A8)."""
    valid = F.filter(payload, lambda v: v != nodata)
    return F.array_min(valid), F.array_max(valid), F.size(valid)


def is_all_nodata(payload: Column, nodata: Column) -> Column:
    """P11: tile skip predicate."""
    return ~F.exists(payload, lambda v: v != nodata)


def slice_chip(
    payload: Column, width: Column, row: Column, col: Column, tile_w: Column, tile_h: Column
) -> Column:
    """Row-major chip extraction: rows [row, row+tile_h) sliced at
    [col, col+tile_w) — flatten(transform(sequence)) column math, so
    chip materialization happens JVM-side in the scan stage."""
    return F.flatten(
        F.transform(
            F.sequence(row, row + tile_h - 1),
            lambda r: F.slice(payload, r * width + col + 1, tile_w),
        )
    )


@pandas_udf(T.BinaryType())
def _encode_png_gray(payload: pd.Series, width: pd.Series) -> pd.Series:
    from georip_spark import codecs

    out = []
    for arr, w in zip(payload, width):
        a = np.asarray(
            [np.nan if v is None else v for v in arr], dtype=np.float64
        )
        a = np.nan_to_num(a, nan=0.0)  # nodata (null) renders black
        px = np.clip(a * 255.0, 0, 255).astype(np.uint8)
        out.append(codecs.png_encode(px.reshape(-1, int(w))))
    return pd.Series(out)


def chips_to_png(
    df: DataFrame,
    payload_col: str = "payload",
    width_col: str = "width",
    out_col: str = "png",
) -> DataFrame:
    """Encode normalized [0,1] chip payloads as REAL grayscale PNG
    bytes — the reference's raster→png emission
    (georip/raster/conversion.py:12-36: ``img_as_float(data)*255 →
    uint8 → imsave``), here via the from-scratch spec codec
    (georip_spark.codecs) in an Arrow-batched pandas UDF, so chips
    land as a binary column ready for any media sink. Null pixels
    (nodata) render 0, matching the reference's nan→0 cast."""
    return df.withColumn(
        out_col, _encode_png_gray(F.col(payload_col), F.col(width_col))
    )


# ------------------------------------------------- rasterize (numpy)


def rasterize_ring(ring: np.ndarray, w: int, h: int) -> np.ndarray:
    """Even-odd scanline fill of a ring into a (h, w) uint8 mask.
    Pixel (r, c) is inside iff its center (c+.5, r+.5) is inside —
    PIL ImageDraw.polygon-style fill semantics."""
    mask = np.zeros((h, w), dtype=np.uint8)
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    for r in range(h):
        py = r + 0.5
        cond = (y0 > py) != (y1 > py)
        if not cond.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            xs = x0[cond] + (py - y0[cond]) * (x1[cond] - x0[cond]) / (y1[cond] - y0[cond])
        xs = np.sort(xs)
        for i in range(0, len(xs) - 1, 2):
            lo = int(np.ceil(xs[i] - 0.5))
            hi = int(np.floor(xs[i + 1] - 0.5))
            if hi >= lo:
                mask[r, max(lo, 0): min(hi + 1, w)] = 1
    return mask


def rasterize_multipolygon(mp, w: int, h: int) -> np.ndarray:
    mask = np.zeros((h, w), dtype=np.uint8)
    for poly in mp:
        if not poly:
            continue
        m = rasterize_ring(poly[0], w, h)
        for hole in poly[1:]:
            m &= ~rasterize_ring(hole, w, h) & 1
        mask |= m
    return mask


# ------------------------------------------------- vectorize (numpy)


def _label_components(mask: np.ndarray) -> tuple[np.ndarray, int]:
    """4-connectivity two-pass union-find labeling."""
    h, w = mask.shape
    labels = np.zeros((h, w), dtype=np.int32)
    parent: list[int] = [0]

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nxt = 1
    for r in range(h):
        for c in range(w):
            if not mask[r, c]:
                continue
            up = labels[r - 1, c] if r > 0 else 0
            left = labels[r, c - 1] if c > 0 else 0
            if up and left:
                ru, rl = find(up), find(left)
                labels[r, c] = ru
                if ru != rl:
                    parent[rl] = ru
            elif up or left:
                labels[r, c] = find(up or left)
            else:
                parent.append(nxt)
                labels[r, c] = nxt
                nxt += 1
    # flatten
    remap: dict[int, int] = {}
    out = 0
    for r in range(h):
        for c in range(w):
            if labels[r, c]:
                root = find(labels[r, c])
                if root not in remap:
                    out += 1
                    remap[root] = out
                labels[r, c] = remap[root]
    return labels, out


def _trace_rings(comp_mask: np.ndarray) -> list[np.ndarray]:
    """Boundary edges of a binary mask walked into closed rectilinear
    rings (pixel coordinates). Interior is kept on the RIGHT of travel
    (top edges go left→right, etc.); at a corner where a component
    touches itself diagonally, two outgoing edges share a vertex — the
    walk then prefers the rightmost turn relative to the incoming
    direction, which keeps rings simple and non-crossing. Largest-
    |area| ring is the shell, the rest are holes."""
    h, w = comp_mask.shape
    edges: dict[tuple, list[tuple]] = {}
    padded = np.zeros((h + 2, w + 2), dtype=np.uint8)
    padded[1:-1, 1:-1] = comp_mask

    def add(a, b):
        edges.setdefault(a, []).append(b)

    for r in range(h):
        for c in range(w):
            if not comp_mask[r, c]:
                continue
            pr, pc = r + 1, c + 1
            if not padded[pr - 1, pc]:
                add((c, r), (c + 1, r))          # top: left→right
            if not padded[pr, pc + 1]:
                add((c + 1, r), (c + 1, r + 1))  # right: top→bottom
            if not padded[pr + 1, pc]:
                add((c + 1, r + 1), (c, r + 1))  # bottom: right→left
            if not padded[pr, pc - 1]:
                add((c, r + 1), (c, r))          # left: bottom→top

    def take(v: tuple, incoming: tuple | None) -> tuple:
        outs = edges[v]
        if len(outs) == 1 or incoming is None:
            nxt = outs.pop()
        else:
            # rightmost turn in y-down coords: cross(incoming, out) > 0
            def turn(o):
                dx1, dy1 = incoming
                dx2, dy2 = o[0] - v[0], o[1] - v[1]
                return dx1 * dy2 - dy1 * dx2
            outs.sort(key=turn)
            nxt = outs.pop()  # largest cross = rightmost turn (y down)
        if not edges[v]:
            del edges[v]
        return nxt

    rings = []
    while edges:
        start = next(iter(edges))
        ring = [start]
        cur = take(start, None)
        prev = start
        while cur != start:
            ring.append(cur)
            nxt = take(cur, (cur[0] - prev[0], cur[1] - prev[1]))
            prev, cur = cur, nxt
        ring.append(start)
        rings.append(np.asarray(ring, dtype=np.float64))
    return rings


def vectorize_mask(mask: np.ndarray):
    """Binary mask → MultiPolygon (ring lists, pixel coords): one
    polygon per 4-connected component, exact rectilinear boundaries,
    holes included."""
    from georip_spark.geo import kernels

    labels, n = _label_components(mask.astype(bool).astype(np.uint8))
    out = []
    for comp in range(1, n + 1):
        rings = _trace_rings((labels == comp).astype(np.uint8))
        if not rings:
            continue
        rings.sort(key=lambda rr: -abs(kernels.ring_area(rr)))
        out.append(rings)
    return out


# corner-collision caveat: at a checkerboard corner two rings share a
# vertex; the simple dict walk picks one continuation arbitrarily but
# still closes all rings because each directed edge is consumed once.


@pandas_udf(T.StringType())
def vectorize_payload(
    payload: pd.Series, width: pd.Series, threshold: pd.Series
) -> pd.Series:
    """array<float> payload (row-major) → WKT of the vectorized
    above-threshold region (R1: valid-data polygon extraction)."""
    out = []
    for arr, w, thr in zip(payload, width, threshold):
        a = np.asarray(arr, dtype=np.float64)
        w = int(w)
        h = len(a) // w
        mask = (~np.isnan(a).reshape(h, w)) & (a.reshape(h, w) > thr)
        out.append(W.to_wkt(vectorize_mask(mask.astype(np.uint8))))
    return pd.Series(out)


@pandas_udf(T.ArrayType(T.IntegerType()))
def rasterize_geometry(
    geom_wkt: pd.Series, width: pd.Series, height: pd.Series
) -> pd.Series:
    """WKT → flat row-major 0/1 mask (R3)."""
    out = []
    for g, w, h in zip(geom_wkt, width, height):
        try:
            mp = W.parse_wkt(g)
        except (ValueError, IndexError):
            mp = []
        out.append(rasterize_multipolygon(mp, int(w), int(h)).ravel().astype(int).tolist())
    return pd.Series(out)
