"""End-to-end dataset pipeline (SURVEY.md §3.1 as one lazy DAG).

Reference lifecycle (create_ndvi_difference_dataset,
georip/datasets/models/tools.py:23-204): load vectors → year filter →
tile rasters → spatial join tiles×truth → clip → class encode → label
files. Here the whole thing is one declarative DataFrame graph:

    rasters ──tile_grid──► tiles ──cell-join──► matched ──encode──►
    labels ──assemble──► docs_out(doc_id, spans)

The output docs table has the same schema as the input docs table
(BASELINE.json input_hint); the per-row invariant checked by the
test-suite is span-sequence equality (kind, text, media_ref, order)
vs the pandas oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from georip_spark import functions as GF
from georip_spark.exprcache import cached_column
from georip_spark.operators import geom_udfs, jvm_clip, jvm_wkt
from georip_spark.operators.joins import (
    DEFAULT_RES,
    auto_res,
    prepare_regions,
    spatial_join_tiles_regions,
)
from georip_spark.operators.tiling import (
    doc_partitioned,
    tile_grid,
    with_footprint_bbox,
)

DEFAULT_CLASSES = ("Treatment", "Background")

# Pipeline grid resolution (round 6, guide §2.3) — REGIME-ADAPTIVE.
# The probe side replicates each tile into its cover cells; what that
# costs depends on whether the join shuffles:
# - SHUFFLE regime (dim too big to broadcast): every probe row is
#   serialized+compressed+written+read across the exchange, so cover
#   fan-out multiplies the one bandwidth-bound stage. Deterministic
#   counts at 64k docs (OPTIMIZATION_r06.md table): res 10 → 29.0M
#   probe rows / 5.6M pre-filter candidates; res 8 → 8.25M / 8.39M;
#   res 6 → 5.6M / 10.9M. res 8 trades a 3.5× cut of the expensive
#   rows for a 1.5× rise of cheap bbox-prefilter compares (the TRUE
#   clip-row set is res-invariant). Measured pinned local[4]: the
#   probe map stage 52.7s → (with the other round-6 cuts) scales
#   again.
# - BROADCAST regime: probe rows never cross an exchange — fan-out
#   costs only a hash probe each, while coarser cells mean fatter
#   build buckets and +50% candidate compares. Interleaved A/B at
#   40k docs broadcast (3 rounds): res 10 min 9.5s / res 8 min 11.4s.
# Join-key density stays bounded at any res because the
# (region, start_year, end_year) keys shard every cell — no global
# hot key. Results are identical at any res (cells only generate
# candidates; the clip decides) — span-count equality asserted in the
# sweeps, e2e suite + oracle green at both values.
PIPELINE_RES_BROADCAST = 10
PIPELINE_RES_SHUFFLE = 8

_TILE_REF_RE = r"_tile_([0-9]+)_([0-9]+)$"

# the join keys GF.parse_doc_id derives from doc_id
_JOIN_KEYS = ("region", "start_year", "end_year")


def _resolve_res(regions: DataFrame, res: int | str) -> int:
    """res="auto" → one dim-side stats job picks the grid resolution
    from the median geometry extent (joins.auto_res). Catalyst prunes
    the unused cover column out of the throwaway prepare_regions, so
    the probe costs exactly one geometry-stats pass + a percentile agg
    over the dimension — nothing fact-side."""
    if res == "auto":
        return auto_res(prepare_regions(regions))
    return int(res)


def tiles_from_docs(docs: DataFrame, rasters: DataFrame) -> DataFrame:
    """Contract INPUT path (BASELINE.json input_hint, SURVEY.md §1.3):
    read the docs table ``(doc_id, spans:array<struct<kind,text,
    media_ref,offset>>)``, explode the media spans, and reconstruct
    the tile rows the rest of the engine runs on — the same schema
    ``tile_grid`` produces, so build_labels/assemble_docs are shared
    verbatim between the docs-driven and raster-driven entries.

    The span's media_ref carries the pixel window origin
    (``{stem}_tile_{row}_{col}``, georip/raster/tools.py:274); widths,
    ordinals and CRS footprints need the raster metadata, joined 1:1
    on doc_id BEFORE the span fan-out — joining after the explode
    would shuffle ~100× more rows for the same result.

    Scale shape: one equi-join of two doc-keyed tables (sort-merge or
    broadcast as Catalyst sizes it), its output hash-partitioned by
    doc_id into 4·par slices (tiling.doc_partitioned, as tile_grid
    does), then a partition-local explode + column math. The tiles
    therefore carry the doc partitioning assemble_docs needs.
    """
    meta = rasters.select(
        "doc_id", "width", "height", "tile_size", "stride", "transform"
    )
    # parse the (region, start_year, end_year) join keys ONCE per doc
    # row, BEFORE the media-span fan-out — build_labels then skips its
    # per-tile parse branch (3 regex/split evals per span otherwise;
    # guide §1.2 per-task work in the hottest stage)
    d = doc_partitioned(docs.join(meta, "doc_id")).select(
        "*", *GF.parse_doc_id(F.col("doc_id"))
    )
    m = d.select(
        "doc_id", "width", "height", "tile_size", "stride", "transform",
        "region", "start_year", "end_year",
        F.explode("spans").alias("span"),
    ).filter(F.col("span.kind") == "media")
    tile_row = F.regexp_extract(F.col("span.media_ref"), _TILE_REF_RE, 1).cast("int")
    tile_col = F.regexp_extract(F.col("span.media_ref"), _TILE_REF_RE, 2).cast("int")
    ncols = F.ceil(F.col("width") / F.col("stride")).cast("int")
    tiles = m.select(
        "doc_id",
        tile_row.alias("tile_row"),
        tile_col.alias("tile_col"),
        F.least(F.col("tile_size"), F.col("width") - tile_col).alias("tile_w"),
        F.least(F.col("tile_size"), F.col("height") - tile_row).alias("tile_h"),
        ((tile_row / F.col("stride")).cast("int") * ncols
         + (tile_col / F.col("stride")).cast("int")).alias("ordinal"),
        F.col("span.media_ref").alias("media_ref"),
        "transform",
        "tile_size",
        "region", "start_year", "end_year",
    )
    return with_footprint_bbox(tiles).drop("transform")


def from_docs(
    docs: DataFrame,
    rasters: DataFrame,
    regions: DataFrame,
    res: int | str | None = None,
    keep_classes=DEFAULT_CLASSES,
    salt: int | str | None = None,
    broadcast_regions: bool | None = None,
) -> dict[str, DataFrame]:
    """Run the full pipeline FROM the contract docs table: the user
    hands (docs, raster metadata, truth regions) and gets the enriched
    docs back — media spans preserved, computed text spans inserted.

    Output == build_dataset(rasters, regions)["docs_out"] span-for-
    span when docs was produced by tiling those rasters (the e2e
    parity test); differs exactly where the docs table does (tiles
    added/removed upstream are respected, not re-derived).

    res, salt (an int, or "auto" for data-driven per-key salting) and
    broadcast_regions are decided as in build_dataset — the same
    _plan runs on both entries' tiles."""
    return _plan(
        tiles_from_docs(docs, rasters), regions, res, keep_classes, salt,
        broadcast_regions, derive_tile_refs=False,
    )


def _plan(
    tiles: DataFrame,
    regions: DataFrame,
    res: int | str | None,
    keep_classes,
    salt: int | str | None,
    broadcast_regions: bool | None,
    derive_tile_refs: bool,
) -> dict[str, DataFrame]:
    """The plan every entry point shares, given its tiles: join regime
    and grid resolution, the dim-side class pre-filter, prepare_regions,
    build_labels and assemble_docs.

    Planning launches no fact-side job and one dim-side job: a single
    aggregate over the raw regions scan answers both questions the
    plan asks of the dim.
    - Whether a kept-class region may be holed (_any_holed, a text
      test on the WKT). Only then is the hole-aware clip arm planned.
    - With broadcast_regions=None, the region count: Catalyst's size
      stats misestimate WKT-string tables badly (an auto-broadcast
      OOM'd the driver at 384k regions), so the regime is chosen from
      real cardinality — broadcast under 500k regions (~100-250 MB
      hash relation), a shuffle-hash join above.

    res=None picks the regime-adaptive default (PIPELINE_RES_* above);
    res="auto" resolves it from the dim's actual geometry extents
    (auto_res, one more dim-side job). The output is res-invariant
    (cells only generate candidates; the clip decides) — res tunes
    candidate fan-out, not results."""
    kept = _kept_names(keep_classes)
    probes = [
        _any_holed(F.when(F.col("class_name").isin(kept), F.col("geometry")))
        .alias("holed")
    ]
    if broadcast_regions is None:
        probes.append(F.count("*").alias("n"))
    dim = regions.agg(*probes).first()
    if broadcast_regions is None:
        broadcast_regions = dim["n"] <= 500_000
    if res is None:
        res = (
            PIPELINE_RES_BROADCAST if broadcast_regions
            else PIPELINE_RES_SHUFFLE
        )
    res = _resolve_res(regions, res)
    classes = class_map(regions, keep_classes)
    # class pre-filter BEFORE the stats parse: dropped classes
    # (Background, out-of-set — ~38% of the synth dim) never pay the
    # per-row WKT parse, the fattest dim-side stage (round-6 pinned
    # profile). A column-preserving filter, so geom_id hashes the
    # caller's region columns; build_labels attaches class_id.
    prepared = prepare_regions(
        regions.filter(F.col("class_name").isin(kept)), res=res,
    )
    labels = _labels(
        tiles, prepared, classes, res, salt, broadcast_regions,
        derive_tile_refs, dim["holed"],
    )
    return {
        "tiles": tiles,
        "regions_prepared": prepared,
        "classes": classes,
        "labels": labels,
        "docs_out": assemble_docs(tiles, labels),
    }


def align_regions_to_crs(
    regions: DataFrame, target_crs: str, crs_col: str = "crs",
    allow_approx: bool = False,
) -> DataFrame:
    """CRS alignment before any spatial op (the reference's
    `gdf.to_crs(raster_crs)`, georip/geoprocessing/utils.py:425-427,
    georip/datasets/utils.py:249-251): rewrite geometries whose CRS
    differs from the raster's, set the crs column to the target.
    Identity rows short-circuit inside the UDF (no coordinate math),
    so mixed-CRS inputs only pay for the rows that actually move.
    ``allow_approx=True`` accepts grid-only datums (NAD27) at the
    EPSG Helmert-fallback accuracy (see geo/crs.py)."""
    udf = (
        geom_udfs.transform_geometry_approx
        if allow_approx
        else geom_udfs.transform_geometry
    )
    return regions.withColumn(
        "geometry",
        udf(F.col("geometry"), F.col(crs_col), F.lit(target_crs)),
    ).withColumn(crs_col, F.lit(target_crs))


def _kept_names(keep_classes) -> list[str]:
    """The class names that map to a label id (class_id >= 0)."""
    return sorted(n for n in keep_classes if n.lower() != "background")


def class_map(regions: DataFrame, keep_classes=DEFAULT_CLASSES) -> DataFrame:
    """Distinct kept class names → contiguous ids; Background := −1
    (get_mapped_classes, georip/modeling/yolo/__init__.py:142-174).

    The name universe is the *configured* keep_classes (a handful of
    strings), so the map is built driver-side with zero Spark jobs and
    broadcast into the join — at 10^12 docs a distinct-scan over the
    fact table for a known dimension would be pure waste."""
    names = _kept_names(keep_classes)
    rows = [(n, i) for i, n in enumerate(names)] + [("Background", -1)]
    return regions.sparkSession.createDataFrame(
        rows, "class_name string, class_id int"
    )


_EPS64 = 2.220446049250313e-16  # np.finfo(float64).eps


# shared with the general JVM clip path (operators/jvm_clip.py);
# re-exported here for the rect fast path and the round-trip tests
_round6_even = jvm_clip.round6_even


def _rect_clip_coords() -> Column:
    """JVM fast path for the clip+normalize of an axis-aligned
    rectangle region (``is_rect_blccw``) against the tile rect — the
    whole-stage-codegen replacement for the Arrow clip kernel on the
    hot path (UDFs are the slow lane; rectangle labels are the
    dominant case in the contract workload).

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

    Expects tile bbox (minx/miny/maxx/maxy) and region bbox
    (g_minx/g_miny/g_maxx/g_maxy) columns; null when the intersection
    is empty/degenerate (same contract as the kernel)."""
    ix0 = F.greatest(F.col("g_minx"), F.col("minx"))
    ix1 = F.least(F.col("g_maxx"), F.col("maxx"))
    iy0 = F.greatest(F.col("g_miny"), F.col("miny"))
    iy1 = F.least(F.col("g_maxy"), F.col("maxy"))
    iw = ix1 - ix0
    ih = iy1 - iy0
    m = F.greatest(F.lit(1.0), F.greatest(iw, ih))
    tol = F.lit(20.0 * _EPS64) * m * m
    w = F.col("maxx") - F.col("minx")
    h = F.col("maxy") - F.col("miny")

    def clip01(c: Column) -> Column:
        return F.greatest(F.lit(0.0), F.least(F.lit(1.0), c))

    uL = _round6_even(clip01((ix0 - F.col("minx")) / w))
    uR = _round6_even(clip01((ix1 - F.col("minx")) / w))
    vB = _round6_even(clip01((F.col("maxy") - iy0) / h))
    vT = _round6_even(clip01((F.col("maxy") - iy1) / h))
    bl = F.array(uL, vB, uR, vB, uR, vT, uL, vT, uL, vB)
    br = F.array(uR, vB, uR, vT, uL, vT, uL, vB, uR, vB)
    nonempty = (ix1 > ix0) & (iy1 > iy0) & (iw * ih > tol)
    return F.when(
        nonempty,
        F.when(F.col("g_miny") >= F.col("miny"), bl).otherwise(br),
    )


def build_labels(
    tiles: DataFrame,
    regions_prepared: DataFrame,
    classes: DataFrame,
    res: int = DEFAULT_RES,
    salt: int | str | None = None,
    broadcast_regions: bool | None = None,
    derive_tile_refs: bool = False,
) -> DataFrame:
    """Matched (tile × region) pairs → one label row per kept
    annotation: class encoded, geometry clipped to the tile and
    normalized to [0,1] tile space (rounded 6 — F5 contract), sparse
    and Background rows dropped (A10/S12 empty-file semantics).

    salt is an int factor for hot cells or "auto" (per-key salting
    decided from a sample of the build side), see
    spatial_join_tiles_regions.

    The clip is JVM column math for every input shape: canonical
    rectangles take closed-form math, other hole-free geometries the
    Sutherland–Hodgman clip over their shells. One dim-side aggregate
    (_any_holed, a text test over regions_prepared.geometry; _plan
    folds it into its own dim job instead) asks whether any region may
    be holed; only then does the plan add a third, hole-aware arm over
    the full ring arrays — it is the only arm correct on holed input,
    and planning it for a hole-free dim made the benchmark action
    ~1.5× slower, so it is planned from observed data.

    derive_tile_refs (guide §2.3 "shuffle fewer bytes", round 6): the
    caller asserts media_ref == tile_media_ref(doc_id, tile_row,
    tile_col) for every tile (true by construction for tile_grid
    output). In the NON-broadcast regime both join sides shuffle, and
    the two id strings are ~85 B/row of the probe exchange — the
    round-6 pinned 1→4 profile put the probe map stage (fan-out +
    serialize + compress + write) at wall 62s→53s, the pipeline's one
    non-scaling stage. With the flag, doc_id ships as a null `_doc0`
    whenever it equals build_doc_id(region, start_year, end_year)
    (checked per row BEFORE the exchange; non-canonical ids are
    carried verbatim, so the rewrite is exact for EVERY input), and
    media_ref is not shuffled at all; both are reconstructed from the
    join keys after the join. Broadcast joins skip the rewrite — there
    is no probe exchange to slim, and reconstruction would run per
    MATCHED row (~2.6× per tile)."""
    holed = regions_prepared.agg(_any_holed(F.col("geometry"))).first()[0]
    return _labels(
        tiles, regions_prepared, classes, res, salt, broadcast_regions,
        derive_tile_refs, holed,
    )


def _any_holed(geometry: Column) -> Column:
    """Aggregate: whether any WKT in ``geometry`` may be holed
    (jvm_wkt.may_have_holes, a superset of ``is_valid & has_holes``
    read from the text without the stats parse). A dim whose only
    holed regions are invalid therefore plans the hole-aware arm too:
    correct, just slower than the two-way CASE."""
    return F.coalesce(F.max(jvm_wkt.may_have_holes(geometry)), F.lit(False))


def _labels(
    tiles: DataFrame,
    regions_prepared: DataFrame,
    classes: DataFrame,
    res: int,
    salt: int | str | None,
    broadcast_regions: bool | None,
    derive_tile_refs: bool,
    holed: bool,
) -> DataFrame:
    """build_labels with the holed answer given: plans the hole-aware
    clip arm iff ``holed``."""
    tiles_keyed = _keyed(tiles)
    derive = bool(derive_tile_refs) and not broadcast_regions
    if derive:
        rebuild = GF.build_doc_id(
            F.col("region"), F.col("start_year"), F.col("end_year")
        )
        tiles_keyed = tiles_keyed.withColumn(
            "_doc0",
            F.when(F.col("doc_id") == rebuild, F.lit(None).cast("string"))
            .otherwise(F.col("doc_id")),
        ).drop("doc_id", "media_ref")
    # holed geometries need the hole-aware clip (jvm_clip.…_mp, which
    # wants the full nested ring arrays)
    if holed:
        # nested ring arrays, materialized dim-side for holed rows
        # only (the CASE arm keeps hole-free rows from paying the
        # second parse); invalid rows are Backgrounded before the clip
        regions_prepared = regions_prepared.withColumn(
            "rings",
            cached_column(
                ("pipeline.rings", "geometry"),
                lambda: F.when(
                    F.col("is_valid") & F.col("has_holes"),
                    jvm_wkt.rings_expr(F.col("geometry")),
                ),
            ),
        )
    # Every clip arm is JVM column math over the shells / rings arrays,
    # so the WKT string — the fattest dim column — is dead weight after
    # the join; area / is_empty / geom_id are never read after it
    # either (is_empty already zeroed the cover; class encoding keys on
    # is_valid; assemble keys on class_id/label) — shed them dim-side
    # so neither the build exchange nor the per-partition hash
    # relation carries them (guide §2.3; the r5 attribution charges
    # this host's non-scaling exactly to hash-relation alloc churn)
    exclude = (
        "geometry", "area", "is_empty", "geom_id", "is_valid", "class_name",
    )
    # Class + validity filter moved to the DIM side (guide §2.3
    # "aggregate/filter before you shuffle", round 6): every label row
    # ultimately passes class_id >= 0 — i.e. the region is valid AND
    # its class maps to a non-Background id — so regions failing
    # either test (out-of-set classes, Background, invalid/bowtie
    # geometries: ~35-40% of the synth dim) can be dropped BEFORE the
    # cover explode instead of riding the exchange/broadcast and the
    # candidate stream only to be filtered after the join. class_id is
    # attached dim-side by the same broadcast class join, so the
    # post-join class join disappears too. Result-identical: the
    # dropped rows are exactly those the old
    # `when(~is_valid, -1)` + `filter(class_id >= 0)` pair removed.
    # (skip the join when the caller already attached class_id)
    if "class_id" not in regions_prepared.columns:
        pos_classes = classes.filter(F.col("class_id") >= 0)
        regions_prepared = regions_prepared.join(
            F.broadcast(pos_classes), "class_name", "inner"
        )
    regions_prepared = (
        # null-tolerant mirror of the old `when(~is_valid, -1)` +
        # `>= 0` pair: it kept rows whose is_valid was true OR null
        regions_prepared.filter(F.col("is_valid").isNull() | F.col("is_valid"))
    )
    # canonical rectangles never read their shell array (the
    # closed-form rect path wins the CASE) — null it dim-side so
    # the broadcast/shuffle relation stays skinny for the dominant
    # row class (guide §2.3 "project before the exchange")
    regions_prepared = regions_prepared.withColumn(
        "shells",
        F.when(~F.col("is_rect_blccw"), F.col("shells")),
    )
    # refine=False: the clip paths below null empty intersections, so
    # the separate exact-intersects Python pass would be redundant work
    joined = spatial_join_tiles_regions(
        tiles_keyed,
        regions_prepared,
        res=res,
        how="inner",
        clip=False,
        salt=salt,
        broadcast_regions=broadcast_regions,
        refine=False,
        keep_region_bbox=True,
        exclude_carry=exclude,
    )
    if derive:
        # reconstruct the two id strings from the join keys — exact:
        # canonical rows (null _doc0) rebuild the identical doc_id,
        # non-canonical rows carried theirs; media_ref is the caller-
        # asserted tile_media_ref construction either way
        joined = joined.withColumn(
            "doc_id",
            F.coalesce(
                F.col("_doc0"),
                GF.build_doc_id(
                    F.col("region"), F.col("start_year"), F.col("end_year")
                ),
            ),
        ).withColumn(
            "media_ref",
            GF.tile_media_ref(
                F.col("doc_id"), F.col("tile_row"), F.col("tile_col")
            ),
        ).drop("_doc0")
    # class filter (P4) and invalid→Background(−1) encoding
    # (georip/datasets/utils.py:357-371) both moved DIM-side above:
    # class_id arrives attached and every joined row already satisfies
    # class_id >= 0 with a valid geometry.
    # The rect fast path and the S-H trees are built from FIXED column
    # names, so the (expensive, py4j-built) Columns are memoized — see
    # exprcache module docstring for the measured driver-second costs
    # this removes from every re-plan. All arms are bit-identical to
    # the Arrow kernel (geom_udfs.clip_and_normalize, the tests' parity
    # oracle), so the hot stage has NO ArrowEvalPython for any input.
    coords = F.when(
        F.col("is_rect_blccw"),
        cached_column(("pipeline.rect_clip",), _rect_clip_coords),
    )
    gen = cached_column(
        ("pipeline.gen_clip",),
        lambda: jvm_clip.clip_normalize_coords(
            F.col("shells"), F.col("minx"), F.col("miny"),
            F.col("maxx"), F.col("maxy"),
            g_bbox=(F.col("g_minx"), F.col("g_miny"),
                    F.col("g_maxx"), F.col("g_maxy")),
        ),
    )
    if holed:
        # holed rows: hole-aware S-H over the full ring arrays (largest
        # |shell|−Σ|holes| part selection, jvm_clip.…_mp)
        gen_mp = cached_column(
            ("pipeline.gen_clip_mp",),
            lambda: jvm_clip.clip_normalize_coords_mp(
                F.col("rings"), F.col("minx"), F.col("miny"),
                F.col("maxx"), F.col("maxy"),
                g_bbox=(F.col("g_minx"), F.col("g_miny"),
                        F.col("g_maxx"), F.col("g_maxy")),
            ),
        )
        coords = coords.when(~F.col("has_holes"), gen).otherwise(gen_mp)
    else:
        coords = coords.otherwise(gen)
    labeled = joined.withColumn("coords", coords).drop(
        "g_minx", "g_miny", "g_maxx", "g_maxy", "shells", "has_holes", "rings",
    )
    labeled = labeled.filter(F.col("coords").isNotNull())
    # drop degenerate clipped slivers: reference prunes sparse
    # intersections (gdf_intersects…non-sparsely,
    # georip/geoprocessing/utils.py:190-262) — here the normalized
    # ring must span area; a 2-point or zero-extent ring was already
    # rejected by the clip kernel.
    label_text = cached_column(
        ("pipeline.label_text",),
        lambda: F.concat_ws(
            " ",
            F.col("class_id").cast("string"),
            F.array_join(F.transform("coords", GF.fmt6), " "),
        ),
    )
    return labeled.withColumn("label", label_text)


def assemble_docs(tiles: DataFrame, labels: DataFrame) -> DataFrame:
    """Reassemble docs: per tile a media span followed by its label
    text spans (sorted by class_id, label — fixed W1 ordering; the
    key is reproducible in the oracle, unlike geom_id's xxhash64),
    tiles in row-major ordinal order, offsets re-enumerated 0..n−1.

    Shuffle profile (round 6): media rows and text rows are aggregated
    PER BRANCH with groupBy(doc_id).collect_list, then merged with a
    doc-keyed left join and one array_sort over the concatenated
    spans — same composite (ordinal, kind_order, class_id, label,
    media_ref) ordering as the old union-then-group shape, row for
    row. The point of the split: both branches descend from the SAME
    doc-partitioned scan (build_dataset/from_docs establish
    hashpartitioning(doc_id) BEFORE the ~100× tile fan-out, and the
    fan-out, broadcast join and clip all preserve it), so the two
    aggregations and the join plan with ZERO exchanges — the old
    union's single groupBy re-shuffled every fanned-out media+label
    row because a union erases its children's co-partitioning
    (guide §2.4: share the partitioning established once). Where the
    inputs are NOT doc-partitioned, Spark inserts the exchanges and
    the result is unchanged."""
    media_agg = tiles.select(
        "doc_id",
        F.struct(
            F.col("ordinal"),
            F.lit(0).alias("k"),           # media sorts before its texts
            F.lit(-(2 ** 31)).cast("int").alias("class_id"),
            F.lit("").alias("label"),
            "media_ref",
        ).alias("s"),
    ).groupBy("doc_id").agg(F.collect_list("s").alias("m"))
    text_agg = labels.select(
        "doc_id",
        F.struct(
            F.col("ordinal"), F.lit(1).alias("k"),
            F.col("class_id"), F.col("label"), "media_ref",
        ).alias("s"),
    ).groupBy("doc_id").agg(F.collect_list("s").alias("t"))
    docs = media_agg.join(text_agg, "doc_id", "left")
    empty = F.array().cast(media_agg.schema["m"].dataType.simpleString())
    ordered = F.array_sort(F.concat(F.col("m"), F.coalesce(F.col("t"), empty)))
    spans = F.transform(
        ordered,
        lambda s, i: F.struct(
            F.when(s["k"] == 0, "media").otherwise("text").alias("kind"),
            s["label"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return docs.select("doc_id", spans.alias("spans"))


def build_dataset(
    rasters: DataFrame,
    regions: DataFrame,
    res: int | str | None = None,
    keep_classes=DEFAULT_CLASSES,
    salt: int | str | None = None,
    broadcast_regions: bool | None = None,
) -> dict[str, DataFrame]:
    """The full forward pipeline. Returns every intermediate so tests
    and jobs can tap any stage.

    broadcast_regions=None decides the join regime from the regions'
    real cardinality; res=None is regime-adaptive, res="auto"
    data-driven; salt is an int factor or "auto" — see _plan."""
    return _plan(
        _doc_tiles(rasters), regions, res, keep_classes, salt,
        broadcast_regions, derive_tile_refs=True,
    )


def _keyed(df: DataFrame) -> DataFrame:
    """Attach the (region, start_year, end_year) join keys parsed from
    doc_id — the reference's filename-parse matching law (F2/J1); a
    no-op when the caller already attached them."""
    if "region" in df.columns:
        return df
    return df.select("*", *GF.parse_doc_id(F.col("doc_id")))


def _doc_tiles(rasters: DataFrame) -> DataFrame:
    """tile_grid over keyed rasters.

    The keys are parsed BEFORE the ~100× tile fan-out and carried
    through it (keep=), so the regexes run once per RASTER row instead
    of once per tile. tile_grid doc-partitions the compact raster rows
    before the fan-out (tiling.doc_partitioned): that one shuffle
    replaces the post-fan-out shuffle of every media+label row —
    tile_grid's Generate chain, the broadcast join and the clip all
    preserve hashpartitioning, so assemble_docs' two aggregations and
    doc join need no exchange."""
    return tile_grid(_keyed(rasters), keep=_JOIN_KEYS)
