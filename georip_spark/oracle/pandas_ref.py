"""Pandas reimplementation of the pipeline, reference-loop style."""

from __future__ import annotations

import numpy as np
import pandas as pd

from georip_spark.geo import kernels, wkt

DEFAULT_CLASSES = ("Treatment", "Background")


def fmt6(v: float) -> str:
    """str(round(x, 6))-style formatting matching functions.fmt6."""
    s = f"{round(float(v) + 0.0, 6):.6f}".rstrip("0")
    if s.endswith("."):
        s += "0"
    return s


def tile_grid_pd(rasters: pd.DataFrame) -> pd.DataFrame:
    """Reference tile loop (georip/raster/tools.py:255-262): rows then
    cols stride steps, clamped edge tiles, row-major ordinals."""
    rows = []
    for r in rasters.itertuples():
        t = r.transform  # dict-like Row or dict
        a, b, c = t["a"], t["b"], t["c"]
        d, e, f = t["d"], t["e"], t["f"]
        stride, ts = int(r.stride), int(r.tile_size)
        ncols = -(-int(r.width) // stride)  # ceil
        ordinal = 0
        for row in range(0, int(r.height), stride):
            for col in range(0, int(r.width), stride):
                tw = min(ts, int(r.width) - col)
                th = min(ts, int(r.height) - row)
                xs = [a * cc + b * rr + c for cc, rr in
                      ((col, row), (col + tw, row), (col + tw, row + th), (col, row + th))]
                ys = [d * cc + e * rr + f for cc, rr in
                      ((col, row), (col + tw, row), (col + tw, row + th), (col, row + th))]
                rows.append(
                    dict(
                        doc_id=r.doc_id,
                        media_ref=f"{r.doc_id}_tile_{row}_{col}",
                        tile_row=row, tile_col=col, tile_w=tw, tile_h=th,
                        ordinal=(row // stride) * ncols + (col // stride),
                        minx=min(xs), miny=min(ys), maxx=max(xs), maxy=max(ys),
                    )
                )
                ordinal += 1
    return pd.DataFrame(rows)


def class_map_pd(regions: pd.DataFrame, keep_classes=DEFAULT_CLASSES) -> dict[str, int]:
    """Ids derive from the configured keep_classes (engine contract:
    class_map is a driver-side dim, not a data scan)."""
    names = sorted(n for n in keep_classes if n.lower() != "background")
    m = {n: i for i, n in enumerate(names)}
    m["Background"] = -1
    return m


def build_labels_pd(
    tiles: pd.DataFrame,
    regions: pd.DataFrame,
    keep_classes=DEFAULT_CLASSES,
) -> pd.DataFrame:
    """Brute-force nested-loop matching (reference
    georip/geoprocessing/mapping.py style) + clip + normalize + format.

    Label sort key inside a tile is (class_id, geometry WKT) — the
    engine sorts by (class_id, geom_id=xxhash64(row)); the oracle
    can't reproduce xxhash64, so both sides are compared after
    sorting spans by (class_id, text) — see tests.
    """
    cmap = class_map_pd(regions, keep_classes)
    regs = []
    for rr in regions.itertuples():
        try:
            mp = wkt.parse_wkt(rr.geometry)
        except (ValueError, IndexError):
            mp = []
        is_valid = bool(mp) and any(kernels.is_valid_polygon(p) for p in mp)
        regs.append((rr.region, rr.start_year, rr.end_year, rr.class_name, mp, is_valid))

    out = []
    for t in tiles.itertuples():
        # parse region/years from doc_id (reference parse law)
        parts = t.doc_id.split("_")
        region = parts[0]
        yi = 1
        if parts[1].lower() in ("expanded", "extended"):
            region += "E"
            yi = 2
        years = parts[yi].replace("-", "to").split("to")
        sy, ey = int(years[0]), int(years[1])
        for (reg, rsy, rey, cls, mp, is_valid) in regs:
            if reg != region or rsy != sy or rey != ey:
                continue
            if cls not in cmap:
                continue
            cid = -1 if not is_valid else cmap[cls]
            if cid < 0:
                continue
            if not mp:
                continue
            if not kernels.rect_intersects_multipolygon(mp, t.minx, t.miny, t.maxx, t.maxy):
                continue
            clipped = kernels.clip_multipolygon_to_rect(mp, t.minx, t.miny, t.maxx, t.maxy)
            if not clipped:
                continue
            best = max(clipped, key=kernels.clip_selection_area)
            ring = best[0]
            w, h = t.maxx - t.minx, t.maxy - t.miny
            u = np.clip((ring[:, 0] - t.minx) / w, 0.0, 1.0)
            v = np.clip((t.maxy - ring[:, 1]) / h, 0.0, 1.0)
            coords = np.round(np.column_stack([u, v]).ravel(), 6)
            label = " ".join([str(cid)] + [fmt6(x) for x in coords])
            out.append(
                dict(doc_id=t.doc_id, media_ref=t.media_ref, ordinal=t.ordinal,
                     class_id=cid, label=label)
            )
    return pd.DataFrame(out, columns=["doc_id", "media_ref", "ordinal", "class_id", "label"])


def assemble_docs_pd(tiles: pd.DataFrame, labels: pd.DataFrame) -> dict[str, list[tuple]]:
    """doc_id → [(kind, text, media_ref, offset)] in engine order:
    tiles by ordinal, each media span followed by its text spans."""
    lbl_by_tile: dict[tuple, list] = {}
    if len(labels):
        for r in labels.itertuples():
            lbl_by_tile.setdefault((r.doc_id, r.media_ref), []).append((r.class_id, r.label))
    docs: dict[str, list[tuple]] = {}
    for t in tiles.sort_values(["doc_id", "ordinal"]).itertuples():
        seq = docs.setdefault(t.doc_id, [])
        seq.append(("media", "", t.media_ref))
        for cid, label in sorted(lbl_by_tile.get((t.doc_id, t.media_ref), [])):
            seq.append(("text", label, t.media_ref))
    return {
        d: [(k, x, m, i) for i, (k, x, m) in enumerate(seq)]
        for d, seq in docs.items()
    }
