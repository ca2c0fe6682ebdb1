"""Cell-indexed spatial joins (SURVEY.md J2/J3/J4) and kNN (J12).

The reference's spatial matching is an O(tiles × regions) nested loop
of shapely calls (georip/geoprocessing/mapping.py:209-271,
georip/geoprocessing/utils.py:190-262). This engine replaces it with
the standard scale pattern:

    1. cover both sides with grid cells (pure column math / tiny UDF)
    2. equi-join on (cell [, year keys]): broadcast when the dim side
       is small, a shuffle-hash join otherwise (see the hint below)
    3. de-duplicate candidate pairs WITHOUT a shuffle via the
       reference-point trick: a pair is kept only in the single cell
       containing the top-left corner of the two bboxes' overlap
    4. optional exact refinement (``refine`` / ``clip``) with the
       Arrow geometry kernels; the pipeline passes neither, because
       its JVM clip (operators/jvm_clip.py) nulls empty intersections

Explicit salting for pathologically hot cells is available
(``salt=k``): the geometry side replicates k×, the tile side picks a
deterministic salt from xxhash64 — turning one hot cell into k evenly
sized join keys. ``salt="auto"`` decides per key from the build
side's own histogram (no caller hint needed — see the inline note in
spatial_join_tiles_regions). Default leaves skew to AQE; salting is
for the dense-region workloads the north_rule calls out.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from georip_spark.exprcache import cached_column
from georip_spark.geo import cells
from georip_spark.operators import geom_udfs, jvm_wkt

DEFAULT_RES = 10  # cell ≈ 1024 CRS units — a couple of 640px/1.0-res tiles


def auto_res(
    regions_stats: DataFrame, lo: int = 4, hi: int = 18, cells_per_geom: float = 2.0
) -> int:
    """Pick the grid resolution from the DIM side's actual geometry
    extents instead of a hardcoded constant: cell size ≈
    ``cells_per_geom`` × the median bbox extent, clamped to [lo, hi].

    Rationale: too-coarse cells put many geometries per cell (join
    fan-out explodes, hot cells); too-fine cells replicate each
    geometry over many cover cells (build side explodes). Cell ≈ 2×
    the median geometry keeps both O(1). One tiny agg job on the dim
    side only — at 100 TB the dim is still a dimension.

    Input: any DataFrame with minx/miny/maxx/maxy columns (e.g. the
    output of prepare_regions, or raw bbox stats)."""
    row = (
        regions_stats.filter(F.col("minx").isNotNull())
        .select(
            F.expr(
                "percentile_approx(greatest(maxx - minx, maxy - miny), 0.5)"
            ).alias("ext")
        )
        .collect()[0]
    )
    ext = float(row["ext"]) if row["ext"] else None
    if not ext or ext <= 0:
        return DEFAULT_RES
    res = int(round(math.log2(cells.BASE_CELL_SIZE / (cells_per_geom * ext))))
    return max(lo, min(hi, res))


def prepare_regions(regions: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """Attach a stable row id, geometry stats, and the covering-cell
    array to a geometry table. Invalid/empty geometries keep
    is_valid=false so class encoding can Background them; they simply
    cover no cells. The stats are JVM column math
    (jvm_wkt.attach_stats): no Python worker on the dim side.
    """
    with_id = regions.withColumn(
        "geom_id",
        F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in regions.columns]),
    )
    stats = jvm_wkt.attach_stats(with_id, "geometry")
    covered = stats.withColumn(
        "cover",
        cached_column(
            ("prepare_regions.cover", res),
            lambda: F.when(
                F.col("is_empty") | F.col("minx").isNull(),
                F.array().cast("array<long>"),
            ).otherwise(
                cells.cover_bbox_expr(
                    F.col("minx"), F.col("miny"), F.col("maxx"),
                    F.col("maxy"), res,
                )
            ),
        ),
    )
    return covered


def _fan_out(df: DataFrame) -> DataFrame:
    """``df`` spread round-robin over 4·par slices when it would run
    fewer than 2·par tasks wide, decided without a Spark job.

    Under AQE a plan with an exchange or a cached relation below it is
    adaptive, and its partition count is known only once that stage
    has run: reading it (``.rdd``) would run every shuffle map stage
    below once more while planning. Such an input keeps the
    partitioning its producer set — tile_grid and tiles_from_docs emit
    4·par doc-hash slices (tiling.doc_partitioned), which assemble_docs
    relies on. Any other plan (a file or local scan, filtered or
    projected) only plans under ``.rdd``, so its split count is read.
    4·par: see tiling.doc_partitioned."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < 2 * par:
        return df.repartition(4 * par)
    return df


def spatial_join_tiles_regions(
    tiles: DataFrame,
    regions_prepared: DataFrame,
    res: int = DEFAULT_RES,
    how: str = "inner",
    on_years: bool = True,
    clip: bool = True,
    salt: int | str | None = None,
    broadcast_regions: bool | None = None,
    refine: bool = True,
    keep_region_bbox: bool = False,
    exclude_carry: tuple[str, ...] = (),
) -> DataFrame:
    """Join tile footprints (bbox columns minx/miny/maxx/maxy +
    region/start_year/end_year keys) against prepared region geometries.

    how: only 'inner' — matched (tile, region) pairs + exact
      intersection; any other value raises ValueError.
    on_years: also equi-join on (region, start_year, end_year) — the
      J1/J3 year-span matching law.
    """
    if how != "inner":
        raise ValueError(f"spatial_join_tiles_regions: how must be 'inner' (got {how!r})")
    if "geometry" in exclude_carry and (refine or clip):
        raise ValueError(
            "cannot exclude 'geometry' from the carry when refine/clip "
            "need it post-join"
        )
    g = regions_prepared.withColumnsRenamed(
        {c: f"g_{c}" for c in ("minx", "miny", "maxx", "maxy")}
    )

    keys = ["region", "start_year", "end_year"] if on_years else []

    # carry every region column through the join (geom_id, class_name,
    # geometry, stats, plus any caller-supplied attribute columns);
    # caller guarantees attribute names don't collide with tile columns.
    # exclude_carry lets a caller shed dim columns it won't read after
    # the join — build_labels drops the WKT string (the fattest column)
    # when every row takes a JVM clip path, cutting the per-candidate
    # shuffle/broadcast bytes
    carry = [
        c for c in g.columns
        if c != "cover" and c not in keys and c not in exclude_carry
    ]
    build = g.select(*keys, *carry, F.explode("cover").alias("cell"))

    # A broadcast join keeps the probe side's input partitioning; a
    # small file (or coalesced scan) would funnel the whole candidate
    # stream — and the Python refinement — through one task.
    tiles = _fan_out(tiles)

    # Probe-side cover as TWO explode(sequence) generators + packed-id
    # column math instead of explode(cover_bbox_expr(...)): a
    # higher-order-function generator has no codegen, so the single
    # array-building explode ran as an interpreted Generate that SPLIT
    # the whole-stage-codegen span between the tile fan-out and the
    # join (round-6 plan audit; the fan-out→join stage ran ~50µs/row).
    # With explode(sequence) the scan→fan-out→cover→join→filters chain
    # is ONE WholeStageCodegen span and allocates no per-row cell
    # arrays. Cell order (x-major, then y) matches cover_bbox.
    _s = float(cells.cell_size(res))
    probe = (
        tiles.withColumn(
            "_cx",
            F.explode(F.sequence(
                F.floor(F.col("minx") / F.lit(_s)).cast("long"),
                F.floor(F.col("maxx") / F.lit(_s)).cast("long"),
            )),
        )
        .withColumn(
            "_cy",
            F.explode(F.sequence(
                F.floor(F.col("miny") / F.lit(_s)).cast("long"),
                F.floor(F.col("maxy") / F.lit(_s)).cast("long"),
            )),
        )
        .withColumn(
            "cell", cells.cell_from_ixy_expr(F.col("_cx"), F.col("_cy"), res)
        )
        .drop("_cx", "_cy")
    )

    join_keys = keys + ["cell"]
    # probe-row hash for salting: media_ref when the caller shuffles
    # it; otherwise the tile bbox (any deterministic diverse value
    # works — salt only routes rows, never changes results)
    _salt_hash_cols = (
        ["media_ref"] if "media_ref" in tiles.columns
        else ["minx", "miny", "maxx", "maxy"]
    )
    if salt == "auto" and not broadcast_regions:
        # Data-driven per-key salting (round 6, VERDICT r5 #4): read
        # the build side's join-key histogram with ONE dim-side
        # aggregate (the same hoisting class as auto_res; a second one
        # replayed the dim's WKT stats parse) and salt ONLY keys owning
        # more than 1/par of the exploded build rows. The aggregate
        # returns the total and the keys over the 64-row floor (at most
        # total/64); at most ``par`` of them pass the 1/par share, so
        # the hot list is a ≤par-row local relation (pandas → Arrow, no
        # Python worker), broadcast-joined to both sides; cold
        # workloads skip the salt columns entirely. Per-key factor
        # k ≈ share·par (capped at 2·par) splits the hot key's probe
        # rows across ~k tasks — the explicit-salting win AQE's
        # byte-threshold skew join misses on skinny-row/compute-cost
        # skew (measured 2.47× vs 1.04×, NOTES.md "Round-1 closing
        # measurements"). Broadcast joins skip the probe: the probe
        # side is never shuffled there, so no partition can be hot.
        spark = tiles.sparkSession
        par = max(spark.sparkContext.defaultParallelism, 1)
        cnt_df = build.groupBy(*join_keys).count()
        hist = cnt_df.agg(
            F.sum("count").alias("t"),
            F.collect_list(
                F.when(F.col("count") > 64, F.struct("count", *join_keys))
            ).alias("c"),
        ).first()
        total = hist["t"] or 0
        hot_rows = [
            (*r[1:], min(2 * par, math.ceil(r["count"] * par / float(max(total, 1)))))
            for r in hist["c"] if r["count"] > max(total / par, 64.0)
        ]
        if hot_rows:
            schema = cnt_df.drop("count").schema.add("_k", "integer")
            hot_df = F.broadcast(spark.createDataFrame(pd.DataFrame(hot_rows), schema))
            build = (
                build.join(hot_df, join_keys, "left")
                .withColumn(
                    "_salt",
                    F.explode(
                        F.sequence(F.lit(0), F.coalesce(F.col("_k") - 1, F.lit(0)))
                    ),
                )
                .drop("_k")
            )
            probe = (
                probe.join(hot_df, join_keys, "left")
                .withColumn(
                    "_salt",
                    F.when(F.col("_k").isNull(), F.lit(0)).otherwise(
                        F.pmod(F.xxhash64(*_salt_hash_cols), F.col("_k").cast("long")).cast("int")
                    ),
                )
                .drop("_k")
            )
            join_keys = join_keys + ["_salt"]
    elif isinstance(salt, int) and salt > 1:
        build = build.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        probe = probe.withColumn(
            "_salt", F.pmod(F.xxhash64(*_salt_hash_cols), F.lit(salt)).cast("int")
        )
        join_keys = join_keys + ["_salt"]

    if broadcast_regions:
        build = F.broadcast(build)
    else:
        # Non-broadcast strategy: SHUFFLE_HASH, not sort-merge. The
        # build side (regions × cover cells) is orders of magnitude
        # smaller than the probe per join key, so hashing it per
        # partition beats sorting BOTH sides — and unlike broadcast
        # there is no driver-serial relation build (measured: the
        # broadcast build of ~200k exploded regions is a ~14s
        # Amdahl term that caps N→4N scaling efficiency at ~0.6,
        # while shuffle-hash scaled at 0.80 in the same harness).
        build = build.hint("shuffle_hash")

    cand = probe.join(build, on=join_keys, how="inner")

    # JVM-side bbox prefilter: two bboxes sharing a cell often still
    # don't overlap — kill those before anything touches Python. For
    # rectangle geometries this is already the exact test.
    cand = cand.filter(
        (F.col("minx") <= F.col("g_maxx")) & (F.col("maxx") >= F.col("g_minx"))
        & (F.col("miny") <= F.col("g_maxy")) & (F.col("maxy") >= F.col("g_miny"))
    )

    # Reference-point dedup: keep the pair only in the cell that holds
    # the top-left corner of the bbox intersection → exactly-once per
    # pair with zero shuffle (vs dropDuplicates, which would shuffle
    # every candidate row).
    rp_x = F.greatest(F.col("minx"), F.col("g_minx"))
    rp_y = F.greatest(F.col("miny"), F.col("g_miny"))
    cand = cand.filter(F.col("cell") == cells.cell_expr(rp_x, rp_y, res))

    # Exact refinement — one Arrow batch over surviving candidates.
    # Callers that clip right after can pass refine=False: the clip
    # kernel nulls empty intersections, subsuming this test and saving
    # a Python stage.
    if refine:
        cand = cand.filter(
            geom_udfs.rect_intersects(
                F.col("geometry"), F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy")
            )
        )

    drop_cols = ("is_empty",) if keep_region_bbox else (
        "g_minx", "g_miny", "g_maxx", "g_maxy", "is_empty")
    out_carry = [c for c in carry if c not in drop_cols]
    out = cand.select(*tiles.columns, *out_carry)
    if clip:
        out = out.withColumn(
            "clipped",
            geom_udfs.clip_to_rect(
                F.col("geometry"), F.col("minx"), F.col("miny"),
                F.col("maxx"), F.col("maxy"),
            ),
        )
    return out


def _knn_small_right(
    left: DataFrame,
    right: DataFrame,
    k: int,
    left_xy: tuple[str, str],
    right_xy: tuple[str, str],
    left_key: str,
    right_key: str,
) -> DataFrame:
    """Broadcast-corpus exact kNN — guide §3.1 ("broadcast the side
    that fits") applied to the kNN operator. When the right corpus is
    dimension-sized, the grid-disk ladder pays one shuffle + window
    sort per escalation pass over O(candidates) rows; collecting the
    corpus once and scanning it with vectorized numpy inside a single
    Arrow-batched mapInPandas stage does the same exact work with ZERO
    shuffles of the probe side and no driver-loop of per-pass count
    jobs (measured round 6: q11 at sf1.0 14.0s ladder → sub-second).

    Exactness contract (identical to the ladder / the q11 oracle):
    top-k by (dist, right_key) with dist = sqrt((lx-rx)² + (ly-ry)²)
    computed in IEEE float64 in the same operation order as the
    Catalyst expression — numpy and the JVM produce bit-identical
    doubles. Ties beyond k are resolved by the (dist, right_key) sort,
    and ALL candidates tied with the k-th distance are ranked (np.
    partition gives the exact order statistic; every candidate with
    d2 <= kth is kept for the lexsort), so tie-breaking matches
    row_number() OVER (ORDER BY dist, right_key) exactly.

    Assumes non-null probe/corpus coordinates (the same assumption the
    ladder's cell math makes on its hot path). Output schema and
    column order mirror the ladder: left.*, right.*, dist, rn."""
    import numpy as np
    from pyspark.sql.types import (
        DoubleType, IntegerType, StructField, StructType,
    )

    lxn, lyn = left_xy
    rxn, ryn = right_xy
    spark = left.sparkSession
    right_pdf = right.toPandas()
    rx_arr = right_pdf[rxn].to_numpy(np.float64)
    ry_arr = right_pdf[ryn].to_numpy(np.float64)
    key_s = right_pdf[right_key]
    if key_s.dtype.kind in "iuf":
        key_arr = key_s.to_numpy()
    else:
        # bytes compare == UTF-8 binary order == Spark string ordering
        key_arr = key_s.astype(str).str.encode("utf-8").to_numpy()
    bc = spark.sparkContext.broadcast((right_pdf, rx_arr, ry_arr, key_arr))

    out_schema = StructType(
        list(left.schema.fields)
        + list(right.schema.fields)
        + [StructField("dist", DoubleType()), StructField("rn", IntegerType())]
    )
    left_cols = list(left.columns)
    right_cols = list(right.columns)

    def topk(it):
        r_pdf, RX, RY, RKEY = bc.value
        m = RX.shape[0]
        kk = min(k, m)
        # sub-chunk so the distance matrix stays cache-resident:
        # ~256k float64 cells ≈ 2 MB. This host is memory-bandwidth
        # bound (the round-5 scaling attribution); a streaming 8M-cell
        # matrix measured 6× slower than the cache-sized one
        # (OPTIMIZATION_r06.md kernel sweep)
        step = max(8, (256 << 10) // max(m, 1))
        for pdf in it:
            if m == 0 or len(pdf) == 0:
                continue
            pxA = pdf[lxn].to_numpy(np.float64)
            pyA = pdf[lyn].to_numpy(np.float64)
            acc = []
            for s0 in range(0, len(pdf), step):
                px = pxA[s0:s0 + step]
                py = pyA[s0:s0 + step]
                # in-place ops: the matrix is the memory traffic, so
                # build d2 in two buffers instead of four. (x-rx)*(x-rx)
                # + (y-ry)*(y-ry) in this exact order — bit-identical
                # to the Catalyst dist expression.
                dx = px[:, None] - RX[None, :]
                dx *= dx
                dy = py[:, None] - RY[None, :]
                dy *= dy
                dx += dy
                d2 = dx
                if m > kk:
                    kth = np.partition(d2, kk - 1, axis=1)[:, kk - 1]
                    mask = d2 <= kth[:, None]
                    rows, cols = np.nonzero(mask)
                    d2f = d2[rows, cols]
                else:
                    rows = np.repeat(np.arange(len(px)), m)
                    cols = np.tile(np.arange(m), len(px))
                    d2f = d2.ravel()
                order = np.lexsort((RKEY[cols], d2f, rows))
                rows_o = rows[order]
                cols_o = cols[order]
                d2_o = d2f[order]
                starts = np.searchsorted(rows_o, np.arange(len(px)))
                counts = np.diff(np.append(starts, len(rows_o)))
                rank = np.arange(len(rows_o)) - np.repeat(starts, counts)
                keep = rank < kk
                acc.append((rows_o[keep] + s0, cols_o[keep],
                            d2_o[keep], rank[keep]))
            # ONE pandas assembly per Arrow batch (a per-sub-chunk
            # iloc/concat measured as a visible fixed cost at the
            # cache-sized sub-chunk width)
            rows_all = np.concatenate([a[0] for a in acc])
            cols_all = np.concatenate([a[1] for a in acc])
            d2_all = np.concatenate([a[2] for a in acc])
            rank_all = np.concatenate([a[3] for a in acc])
            lpart = pdf.iloc[rows_all].reset_index(drop=True)
            rpart = r_pdf.iloc[cols_all].reset_index(drop=True)
            out = pd.concat([lpart[left_cols], rpart[right_cols]], axis=1)
            out["dist"] = np.sqrt(d2_all)
            out["rn"] = (rank_all + 1).astype("int32")
            yield out

    # a 2-split probe scan would run the whole stage 2-wide
    return _fan_out(left).mapInPandas(topk, out_schema)


def _knn_pass(
    remaining: DataFrame,
    right: DataFrame,
    k: int,
    res: int,
    ring_global: int,
    lx, ly, rx, ry,
    left_key: str,
    right_key: str,
    replicate_left: bool,
    checkpoint: bool = True,
):
    """One grid-disk candidate pass. ``remaining`` carries a per-row
    ``_ring`` column (proof radius in cells, set by the previous pass
    from its k-th-candidate distance bound where one exists). Returns
    the eagerly-checkpointed ``rn <= k`` frame with a ``_proven`` flag.

    Exactness rule (per row): any point within Euclidean distance
    ring·cell_size of the probe is inside the Chebyshev grid_disk, so
    the disk's top-k is the TRUE top-k iff the k-th candidate lies
    within that radius (and ≥ k candidates exist).

    Replication side is the pass's cost knob:
      replicate_left=False — replicate the RIGHT side into its
        grid_disk cells at the uniform ``ring_global``; cost
        |right|·(2·ring+1)². Right choice while the unsolved-left set
        is larger than the right corpus (pass 1, dense layouts).
      replicate_left=True — replicate the (small) REMAINING-left set
        into each row's own ``_ring`` disk and give the right side its
        single home cell; cost Σ_left (2·_ring+1)² + |right|. This is
        the sparse-tail pass: it stays LINEAR in |right| no matter how
        wide the rings grow, where right-side replication would pay
        (2·ring+1)² over the whole corpus again per pass.
    """
    from pyspark.sql.window import Window

    s = float(cells.cell_size(res))
    if replicate_left:
        l_exp = (
            remaining
            .withColumn("_dx", F.explode(F.sequence(-F.col("_ring"), F.col("_ring"))))
            .withColumn("_dy", F.explode(F.sequence(-F.col("_ring"), F.col("_ring"))))
            .withColumn(
                "cell",
                cells.cell_expr(
                    lx + F.col("_dx") * F.lit(s), ly + F.col("_dy") * F.lit(s), res
                ),
            )
            .drop("_dx", "_dy")
        )
        r_cell = right.withColumn("cell", cells.cell_expr(rx, ry, res))
        # hash the exploded-left side per partition: it is the small
        # side by the caller's n_rem < n_right rule, and shuffle-hash
        # avoids sorting the (large) right corpus
        cand = l_exp.hint("shuffle_hash").join(r_cell, "cell", "inner").drop("cell")
        proof_cells = F.col("_ring")
    else:
        r_exp = right
        for axis in ("_dx", "_dy"):
            r_exp = r_exp.withColumn(
                axis, F.explode(F.sequence(F.lit(-ring_global), F.lit(ring_global)))
            )
        r_exp = r_exp.withColumn(
            "cell",
            cells.cell_expr(
                rx + F.col("_dx") * F.lit(s), ry + F.col("_dy") * F.lit(s), res
            ),
        ).drop("_dx", "_dy")
        probe = remaining.withColumn("cell", cells.cell_expr(lx, ly, res))
        cand = probe.join(r_exp, "cell", "inner")
        # the global disk is a superset of every per-row ring, so the
        # uniform radius is the (strictly stronger) proof bound here
        proof_cells = F.lit(ring_global)

    dist = F.sqrt((lx - rx) * (lx - rx) + (ly - ry) * (ly - ry))
    cand = cand.withColumn("dist", dist)

    # one shuffle, three window functions over the same partitioning.
    # Right-replication passes give every probe row a SINGLE home
    # cell, so every candidate of a left key lives in the partition
    # the cell-join already hashed it to: windowing by (cell, left_key)
    # groups identically to left_key, and hashpartitioning(cell) from
    # the join satisfies the window's ClusteredDistribution — the
    # exchange that re-shuffled EVERY candidate row by left_key is
    # elided outright (guide §2.4; plan: 2 Exchange → 1), leaving only
    # the partition-local sort.
    order = [F.col("dist").asc(), F.col(right_key).asc()]
    if replicate_left:
        wp = Window.partitionBy(left_key)
    else:
        wp = Window.partitionBy("cell", left_key)
    ranked = (
        cand.withColumn("rn", F.row_number().over(wp.orderBy(*order)))
        .withColumn("_n_cand", F.count("*").over(wp))
        .withColumn("_kth", F.max(F.when(F.col("rn") <= k, F.col("dist"))).over(wp))
    )
    top = ranked.filter(F.col("rn") <= k).drop("cell").withColumn(
        "_proven",
        (F.col("_n_cand") >= k) & (F.col("_kth") <= proof_cells * F.lit(s)),
    )
    if checkpoint:
        # top feeds multiple consumers (proven output + solved-count +
        # bounds for the next pass); the lazy checkpoint materializes
        # the small per-key top-k ONCE — inside the very next action
        # that touches it (the solved-count), not as its own job
        return top.localCheckpoint(eager=False)
    return top


def _knn_tail(
    remaining: DataFrame,
    right: DataFrame,
    k: int,
    lx, ly, rx, ry,
    left_key: str,
    right_key: str,
    broadcast_left: bool,
):
    """Exact all-pairs pass for the provably-hard leftovers. The
    BROADCAST side is the (small, by the cost rule in knn_join) set of
    unproven LEFT rows — never the right corpus: broadcasting the full
    right side OOMs the driver when right is fact-sized, even with
    only a handful of lefts remaining. If even the remaining set is
    too big to broadcast, fall back to a fully distributed cartesian —
    slow but memory-safe (the degenerate-geometry last resort).

    If ``remaining`` carries a ``_b`` column (the k-th-candidate
    distance bound from the last disk pass, null where unknown), pairs
    beyond it are dropped BEFORE the rank window: every true top-k
    pair has dist ≤ kth ≤ _b, so the filter is lossless while cutting
    the window's sort input to just the plausible neighbors."""
    from pyspark.sql.window import Window

    dist = F.sqrt((lx - rx) * (lx - rx) + (ly - ry) * (ly - ry))
    if broadcast_left:
        full = right.crossJoin(F.broadcast(remaining))
    else:
        full = remaining.crossJoin(right)
    full = full.withColumn("dist", dist)
    if "_b" in full.columns:
        full = full.filter(
            F.col("_b").isNull() | (F.col("dist") <= F.col("_b"))
        ).drop("_b")
    fw = Window.partitionBy(left_key).orderBy(F.col("dist").asc(), F.col(right_key).asc())
    return full.withColumn("rn", F.row_number().over(fw)).filter(F.col("rn") <= k)


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    res: int = DEFAULT_RES,
    ring: int = 1,
    left_xy: tuple[str, str] = ("cx", "cy"),
    right_xy: tuple[str, str] = ("fx", "fy"),
    left_key: str = "media_ref",
    right_key: str = "geom_id",
    escalate: int = 4,
    max_ring: int = 64,
    broadcast_tail_rows: int = 1_000_000,
    tail_pair_cap: int = 2_000_000,
    small_right_rows: int = 250_000,
    brute_pair_cap: float = 8e9,
) -> DataFrame:
    """k nearest right-rows for every left-row (SURVEY.md J12 — the
    north_rule's kNN between tile centroids and labeled features;
    ``left_key`` is assumed unique per left row, as in the reference).

    Adaptive candidate generation: pass 1 searches each point's
    grid_disk of radius ``ring``; points whose neighborhood can't
    prove its top-k escalate — PER ROW. A row whose disk held ≥ k
    candidates already carries an upper bound b = dist(k-th candidate)
    on its true k-th distance, so its next ring is exactly ⌈b/s⌉ (one
    more pass provably finishes it); only rows with < k candidates
    (deep-sparse areas) escalate geometrically (ring·escalate, …, up
    to ``max_ring``). Exact always; each pass touches only the
    still-unsolved lefts, so dense regions pay the small disk and only
    the sparse tail pays wider search — the property that holds under
    skewed feature layouts (Zipf regions, lattice artifacts).

    Replication side per pass: while the unsolved-left set is larger
    than the right corpus, the RIGHT side replicates into its disk
    cells (cost |right|·(2r+1)²); once n_rem < |right| the pass flips
    to replicating the small LEFT remainder into per-row rings (cost
    Σ(2·_ring+1)² + |right| — linear in |right| however wide the rings
    grow, which is what keeps wide-ring escalation affordable when the
    right side is fact-sized).

    Tail rule (measured, NOTES.md "kNN tail"): the all-pairs tail
    costs n_rem·|right| cross rows through one window — ~1s at ~750k
    pairs and ~5s at 6.3M on the profiling VM, i.e. quadratic in SF if
    entered too early. It is taken only when n_rem·|right| ≤
    ``tail_pair_cap`` (or the ring cap is hit), broadcasting the SMALL
    remaining-left set (never the right corpus, which may be
    fact-table-sized — the round-1 driver-OOM risk).

    Driver-side actions are two cheap scans up front (count of each
    side — parquet row-group metadata at scale) plus, per pass, the
    checkpoint job and a distinct-count on the checkpointed per-key
    top-k; the anti-join building the next remainder executes inside
    the next pass's job rather than as its own action."""
    if escalate < 2:
        raise ValueError(
            f"knn_join: escalate must be >= 2 (got {escalate}) — the ring "
            "must grow between passes or the escalation loop cannot terminate"
        )
    lx, ly = (F.col(c) for c in left_xy)
    rx, ry = (F.col(c) for c in right_xy)

    right = right.drop(*[c for c in left.columns if c in right.columns])
    # both cardinalities in ONE job (guide §1.5/§2.6 — the two counts
    # were two sequential driver round-trips; a union of 1-column
    # projections scans both sides inside one job, and column pruning
    # keeps each scan metadata-thin)
    _counts = dict(
        left.select(F.lit(0).alias("_s"))
        .unionAll(right.select(F.lit(1).alias("_s")))
        .groupBy("_s").count().collect()
    )
    n_left = int(_counts.get(0, 0))
    n_right = int(_counts.get(1, 0))

    # Dimension-sized corpus: broadcast it and solve exactly in ONE
    # Arrow stage instead of the multi-pass ladder (guide §3.1 — the
    # same small-side rule a join planner applies). The pair cap keeps
    # the vectorized scan's total flops bounded; past either threshold
    # the grid-disk ladder below remains the scale path. Set
    # small_right_rows=0 to force the ladder (tests exercise both).
    if (
        small_right_rows
        and 0 < n_right <= small_right_rows
        and n_left * n_right <= brute_pair_cap
    ):
        return _knn_small_right(
            left, right, k, left_xy, right_xy, left_key, right_key
        )

    s = float(cells.cell_size(res))

    def _solved(top):
        # rn=1 marks exactly one row per solved key — no distinct shuffle
        return top.filter(F.col("_proven") & (F.col("rn") == 1)).select(left_key)

    def _next_remaining(top, rem, r_next, broadcastable):
        """Per-row rings for the next pass: rows with ≥ k candidates use
        their exact ⌈kth/s⌉ bound (cannot shrink: kth > ring·s ⇒
        ⌈kth/s⌉ > ring), zero/under-k rows take the global escalation."""
        bounds = (
            top.filter(~F.col("_proven") & (F.col("_n_cand") >= k) & (F.col("rn") == 1))
            .select(left_key, F.col("_kth").alias("_b"))
        )
        if broadcastable:
            bounds = F.broadcast(bounds)
        return (
            rem.join(bounds, left_key, "left")
            .withColumn(
                "_ring",
                F.least(
                    F.lit(int(max_ring)),
                    F.coalesce(
                        F.ceil(F.col("_b") / F.lit(s)).cast("int"),
                        F.lit(int(r_next)),
                    ),
                ),
            )
            .drop("_b")
        )

    remaining = left.withColumn("_ring", F.lit(int(ring)))

    # (A static "fold both passes + tail into one action" variant was
    # measured and REJECTED: without per-pass materialization every
    # consumer duplicates the window subtree — the executed plan grew
    # to 30 Window nodes with zero exchange reuse and ran slower than
    # the counted ladder. The checkpoint-per-pass ladder is the fast
    # shape on this engine.)
    keeps = []
    tail_ranked = None
    n_rem = n_left
    r_g = ring
    replicate_left = False  # pass 1: the full left side is the probe
    while True:
        top = _knn_pass(
            remaining, right, k, res, r_g, lx, ly, rx, ry, left_key,
            right_key, replicate_left,
        )
        solved = _solved(top)
        keeps.append(
            top.filter(F.col("_proven"))
            .drop("_n_cand", "_kth", "_ring", "_proven")
        )
        # count on the checkpointed top-k — no join recompute
        n_solved = solved.count()
        n_rem -= n_solved
        if n_rem <= 0:
            break
        # the solved-key set lives on the checkpointed top-k; broadcast
        # the anti-join whenever it's safely small so the (large) left
        # remainder keeps its partitioning instead of shuffling
        anti_keys = (
            F.broadcast(solved) if n_solved <= broadcast_tail_rows else solved
        )
        r_next = r_g * escalate
        rem = remaining.drop("_ring").join(anti_keys, left_key, "left_anti")
        if n_rem * max(n_right, 1) <= tail_pair_cap or r_next > max_ring:
            # attach the last pass's kth bounds so the tail can
            # pre-filter its cross pairs (lossless — see _knn_tail)
            bounds = (
                top.filter(
                    ~F.col("_proven") & (F.col("_n_cand") >= k)
                    & (F.col("rn") == 1)
                ).select(left_key, F.col("_kth").alias("_b"))
            )
            if n_rem <= broadcast_tail_rows:
                bounds = F.broadcast(bounds)
            tail_ranked = _knn_tail(
                rem.join(bounds, left_key, "left"), right, k,
                lx, ly, rx, ry, left_key, right_key,
                broadcast_left=n_rem <= broadcast_tail_rows,
            )
            break
        replicate_left = n_rem < n_right
        if replicate_left:
            remaining = _next_remaining(
                top, rem, r_next, broadcastable=n_rem <= broadcast_tail_rows)
        else:
            # right-side replication proves at the uniform global ring;
            # per-row kth bounds are unused there, so skip their join
            remaining = rem.withColumn("_ring", F.lit(int(r_next)))
        r_g = r_next

    out = keeps[0]
    for other in keeps[1:] + ([tail_ranked] if tail_ranked is not None else []):
        out = out.unionByName(other, allowMissingColumns=True)
    return out
