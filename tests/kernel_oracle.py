"""Kernel-only labels: the parity oracle for the engine's JVM clip plans.

``kernel_labels`` builds the label rows ``pipeline.build_labels`` builds,
but clips every matched region with the Arrow kernel
(``geom_udfs.clip_and_normalize``) instead of the JVM column math, so a
test can compare the two row for row.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from georip_spark import functions as GF
from georip_spark.operators import geom_udfs
from georip_spark.operators.joins import DEFAULT_RES, spatial_join_tiles_regions


def kernel_labels(tiles, regions_prepared, classes, res: int = DEFAULT_RES):
    """(tile × region) matches → ``label`` = ``"<class_id> <coords>"``,
    one row per non-empty kernel clip, with the geometry kept through
    the join and every matched region's ``geom_id`` carried along."""
    if "region" not in tiles.columns:
        tiles = tiles.select("*", *GF.parse_doc_id(F.col("doc_id")))
    if "class_id" not in regions_prepared.columns:
        regions_prepared = regions_prepared.join(
            F.broadcast(classes.filter(F.col("class_id") >= 0)), "class_name"
        )
    valid = regions_prepared.filter(F.col("is_valid").isNull() | F.col("is_valid"))
    joined = spatial_join_tiles_regions(
        tiles, valid, res=res, how="inner", clip=False, refine=False
    )
    coords = geom_udfs.clip_and_normalize(
        F.col("geometry"), F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy")
    )
    return (
        joined.withColumn("coords", coords)
        .filter(F.col("coords").isNotNull())
        .withColumn(
            "label",
            F.concat_ws(
                " ",
                F.col("class_id").cast("string"),
                F.array_join(F.transform("coords", GF.fmt6), " "),
            ),
        )
    )
