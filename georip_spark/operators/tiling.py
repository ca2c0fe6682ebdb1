"""Tile-grid generation (SURVEY.md R4) as pure column math.

The reference cuts each raster with nested Python loops
(georip/raster/tools.py:255-262):

    for row in range(0, height, row_stride):
        for col in range(0, width, col_stride):
            window = (col, row,
                      min(tile_w, width - col), min(tile_h, height - row))

i.e. edge tiles are CLAMPED, and every stride step yields a tile even
when the remainder is smaller than the tile size. Tile ids are
``{stem}_tile_{row}_{col}`` with row/col = pixel offsets
(georip/raster/tools.py:274); footprints come from the affine applied
to the window's 4 corners (create_tile_polygon,
georip/geometry/polygons.py:217-249).

Here the double loop is ``explode(sequence(...)) × explode(sequence(...))``
— fully JVM-side, whole-stage codegen, no Python. The compact raster
rows are hash-partitioned by doc_id once (``doc_partitioned``); each
then fans out to its tiles partition-locally, so every consumer
downstream inherits the doc partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from georip_spark import functions as GF
from georip_spark.geo import affine


def tile_grid(
    rasters: DataFrame, with_footprint: bool = True,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """rasters(doc_id,width,height,tile_size,stride,transform,…) →
    one row per tile with pixel window, ordinal, media_ref and
    (optionally) CRS-space footprint bbox.

    Output columns: doc_id, tile_row, tile_col, tile_w, tile_h,
    ordinal, media_ref [, minx, miny, maxx, maxy] [, *keep].

    ``keep``: extra input columns carried through the fan-out —
    build_dataset passes its pre-parsed (region, start_year, end_year)
    join keys so build_labels never re-derives them per TILE row
    (guide §1.2 per-task work: the doc_id regex+split ran ~100× per
    raster in the fan-out stage, round-6 profile).

    The output is hash-partitioned by doc_id (``doc_partitioned``)."""
    rasters = doc_partitioned(rasters)
    df = rasters.withColumn(
        "tile_row", F.explode(F.sequence(F.lit(0), F.col("height") - 1, F.col("stride")))
    ).withColumn(
        "tile_col", F.explode(F.sequence(F.lit(0), F.col("width") - 1, F.col("stride")))
    )
    # row-major ordinal (loop order of the reference): row index * ncols + col index
    ncols = F.ceil(F.col("width") / F.col("stride")).cast("int")
    df = df.select(
        "doc_id",
        "tile_row",
        "tile_col",
        F.least(F.col("tile_size"), F.col("width") - F.col("tile_col")).alias("tile_w"),
        F.least(F.col("tile_size"), F.col("height") - F.col("tile_row")).alias("tile_h"),
        ((F.col("tile_row") / F.col("stride")).cast("int") * ncols
         + (F.col("tile_col") / F.col("stride")).cast("int")).alias("ordinal"),
        GF.tile_media_ref(F.col("doc_id"), F.col("tile_row"), F.col("tile_col")).alias("media_ref"),
        "transform",
        "tile_size",
        *keep,
    )
    if with_footprint:
        df = with_footprint_bbox(df)
    return df.drop("transform")


def doc_partitioned(df: DataFrame) -> DataFrame:
    """``df`` hash-partitioned by doc_id into 4·defaultParallelism
    slices, set at plan time with no Spark job.

    Done on the compact per-doc rows BEFORE a ~100× tile fan-out:
    - the fan-out, footprint math, join probe and clip all run in
      these tasks, and a tiny single-file scan would otherwise run
      them in one task (measured 6-39s single-threaded for 2M tiles vs
      <2s fanned out);
    - 4·par, not par: at par slices one wave of fat tasks waits on any
      straggler, 4 waves pack ~95% of the cores (rounds 2 and 3);
    - the explicit count makes the shuffle REPARTITION_BY_NUM, which
      AQE does not coalesce, and the doc hash survives the Generate
      chain and a broadcast join, so assemble_docs' per-doc
      aggregations and doc join plan with no exchange."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(4 * par, "doc_id")


def with_footprint_bbox(tiles: DataFrame) -> DataFrame:
    """Attach the CRS-space bbox of each tile footprint.

    The footprint is the affine image of the window's 4 corners; its
    bbox (min/max over corners) equals the footprint itself for
    axis-aligned transforms (b=d=0, the fixture case) and is a sound
    over-approximation for rotated ones (the exact test is the clip,
    which nulls empty intersections).
    """
    t = F.col("transform")
    r0, c0 = F.col("tile_row"), F.col("tile_col")
    r1, c1 = r0 + F.col("tile_h"), c0 + F.col("tile_w")
    xs = [affine.px_to_x(t, c, r) for c, r in ((c0, r0), (c1, r0), (c1, r1), (c0, r1))]
    ys = [affine.px_to_y(t, c, r) for c, r in ((c0, r0), (c1, r0), (c1, r1), (c0, r1))]
    return (
        tiles.withColumn("minx", F.least(*xs))
        .withColumn("miny", F.least(*ys))
        .withColumn("maxx", F.greatest(*xs))
        .withColumn("maxy", F.greatest(*ys))
    )
