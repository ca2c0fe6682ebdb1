"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship geospatial pipeline on
sf0.001. ``queries()`` exposes one callable per implemented operator
family (SURVEY.md §2); ``oracle_sql()`` gives the DuckDB-equivalent
SQL for each. Geospatial inputs are derived *deterministically* from
the driver's parquet tables with arithmetic both engines compute
identically (integer %, floor, IEEE doubles), so the DuckDB oracle
can verify the engine's spatial operators with plain SQL.

Column-name/type parity: every computed column is aliased identically
on both sides; integral outputs are cast to long/BIGINT, money sums
go through DECIMAL(18,6) before rounding.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SF_DEFAULT = "/root/testdata/sf0.001"

# cell-index constants (georip_spark.geo.cells): id = res*2^58 + (ix+OFF)*2^29 + (iy+OFF)
_OFF = 268435456          # 2^28
_SH29 = 536870912         # 2^29
_SH58 = 288230376151711744  # 2^58


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------
# deterministic geospatial derivations (mirrored in the oracle SQL)
# ---------------------------------------------------------------------

def _rasters_from_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part rows → raster metadata (doc_id naming law, axis-aligned
    affine). All arithmetic is integer %, floor and double mults that
    DuckDB reproduces bit-for-bit."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        F.concat(F.lit("Part"), F.col("p_partkey").cast("string"),
                 F.lit("_2019to2020_NDVI_Difference")).alias("doc_id"),
        (F.lit(256) + (F.col("p_partkey") % 8) * 128).cast("int").alias("width"),
        (F.lit(256) + (F.col("p_size") % 8) * 128).cast("int").alias("height"),
        F.lit(128).cast("int").alias("tile_size"),
        F.when(F.col("p_partkey") % 5 == 0, 64).otherwise(128).cast("int").alias("stride"),
        F.struct(
            F.lit(1.0).alias("a"), F.lit(0.0).alias("b"),
            ((F.col("p_partkey") % 64) * 5000.0).alias("c"),
            F.lit(0.0).alias("d"), F.lit(-1.0).alias("e"),
            (F.floor(F.col("p_partkey") / 64) * 5000.0).alias("f"),
        ).alias("transform"),
    )


_RASTERS_SQL = """
    SELECT 'Part' || p_partkey || '_2019to2020_NDVI_Difference' AS doc_id,
           CAST(256 + (p_partkey % 8) * 128 AS BIGINT)  AS width,
           CAST(256 + (p_size % 8) * 128 AS BIGINT)     AS height,
           CAST(128 AS BIGINT)                          AS tile_size,
           CAST(CASE WHEN p_partkey % 5 = 0 THEN 64 ELSE 128 END AS BIGINT) AS stride,
           (p_partkey % 64) * 5000.0                    AS tc,
           CAST(FLOOR(p_partkey / 64) AS BIGINT) * 5000.0 AS tf
    FROM part
"""


def _points_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        ((F.col("event_id") * 37) % 5000).cast("double").alias("ex"),
        ((F.col("user_id") * 53) % 5000).cast("double").alias("ey"),
    )


_POINTS_SQL = """
    SELECT event_id,
           CAST((event_id * 37) % 5000 AS DOUBLE) AS ex,
           CAST((user_id * 53) % 5000 AS DOUBLE)  AS ey
    FROM events
"""


def _rects_from_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        ((F.col("s_suppkey") * 577) % 4000).cast("double").alias("rminx"),
        ((F.col("s_suppkey") * 991) % 4000).cast("double").alias("rminy"),
        (((F.col("s_suppkey") * 577) % 4000) + 300 + (F.col("s_suppkey") % 7) * 150)
        .cast("double").alias("rmaxx"),
        (((F.col("s_suppkey") * 991) % 4000) + 300 + (F.col("s_suppkey") % 5) * 150)
        .cast("double").alias("rmaxy"),
    )


_RECTS_SQL = """
    SELECT s_suppkey,
           CAST((s_suppkey * 577) % 4000 AS DOUBLE) AS rminx,
           CAST((s_suppkey * 991) % 4000 AS DOUBLE) AS rminy,
           CAST((s_suppkey * 577) % 4000 + 300 + (s_suppkey % 7) * 150 AS DOUBLE) AS rmaxx,
           CAST((s_suppkey * 991) % 4000 + 300 + (s_suppkey % 5) * 150 AS DOUBLE) AS rmaxy
    FROM supplier
"""


def _supplier_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        ((F.col("s_suppkey") * 577) % 4000).cast("double").alias("sx"),
        ((F.col("s_suppkey") * 991) % 4000).cast("double").alias("sy"),
    )


# ---------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------

def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4-family hash aggregation with partial+final combine (TPC-H
    Q1 shape). Money math in DECIMAL for cross-engine exactness."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,6)")  # noqa: E731
    g = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(
                F.sum((dec("l_extendedprice") * (F.lit(1).cast("decimal(18,6)") - dec("l_discount")))
                      .cast("decimal(18,6)")), 2
            ).cast("double").alias("sum_disc_price"),
            F.count("*").cast("long").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
    return g


_Q01_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) *
                (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""


def q02_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J7-family multi-way equi-join with broadcast dims (P1 filter
    pushdown). nation/region are broadcast by Catalyst (< threshold)."""
    o, c = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    n, r = _t(spark, sf_dir, "nation"), _t(spark, sf_dir, "region")
    dec = F.col("o_totalprice").cast("decimal(18,6)")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("o_orderstatus") != "F")
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum(dec), 2).cast("double").alias("revenue"),
        )
        .orderBy("r_name", "n_name")
    )


_Q02_SQL = """
    SELECT r_name, n_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE o_orderstatus <> 'F'
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
"""


def q03_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4: count + countDistinct + min/max per group."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4).cast("double").alias("sum_value"),
            F.round(F.min("value"), 6).cast("double").alias("min_value"),
            F.round(F.max("value"), 6).cast("double").alias("max_value"),
        )
        .orderBy("event_type")
    )


_Q03_SQL = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value,
           CAST(ROUND(MIN(value), 6) AS DOUBLE) AS min_value,
           CAST(ROUND(MAX(value), 6) AS DOUBLE) AS max_value
    FROM events GROUP BY event_type ORDER BY event_type
"""


def q04_distinct_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: dropDuplicates on a column subset (exact dedup)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_custkey", "o_orderstatus")
        .dropDuplicates()
        .groupBy("o_orderstatus")
        .agg(F.count("*").cast("long").alias("n_customers"))
        .orderBy("o_orderstatus")
    )


_Q04_SQL = """
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM (SELECT DISTINCT o_custkey, o_orderstatus FROM orders)
    GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q05_first_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: first-match-wins consumption via deterministic row_number
    (the reference drops matched rows from its pool,
    georip/geoprocessing/mapping.py:143-188)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .orderBy("o_custkey")
    )


_Q05_SQL = """
    SELECT o_custkey, o_orderkey, o_orderdate
    FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS rn FROM orders)
    WHERE rn = 1 ORDER BY o_custkey
"""


def q06_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O3 + W5: top-3 per group with deterministic tie-break."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("o_orderpriority", "rank", "o_orderkey",
                F.round("o_totalprice", 2).alias("o_totalprice"))
        .orderBy("o_orderpriority", "rank")
    )


_Q06_SQL = """
    SELECT o_orderpriority, CAST(rank AS BIGINT) AS rank, o_orderkey,
           ROUND(o_totalprice, 2) AS o_totalprice
    FROM (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank FROM orders)
    WHERE rank <= 3 ORDER BY o_orderpriority, rank
"""


def q07_union_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4/O5: union + intersect + except (symmetric difference of
    high-value and urgent orders)."""
    o = _t(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") > 100000).select("o_orderkey")
    ur = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    both = hi.intersect(ur)
    return hi.union(ur).distinct().exceptAll(both).orderBy("o_orderkey")


_Q07_SQL = """
    WITH hi AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 100000),
         ur AS (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT o_orderkey FROM (SELECT * FROM hi UNION SELECT * FROM ur)
    EXCEPT ALL
    SELECT o_orderkey FROM (SELECT * FROM hi INTERSECT SELECT * FROM ur)
    ORDER BY o_orderkey
"""


def q08_class_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6/F13: distinct class names → contiguous ids (the class-map
    builder, get_mapped_classes semantics minus the Background=-1
    special which q-pipeline tests cover)."""
    e = _t(spark, sf_dir, "events")
    w = Window.orderBy("event_type")
    return (
        e.select("event_type").distinct()
        .withColumn("class_id", (F.row_number().over(w) - 1).cast("long"))
        .orderBy("event_type")
    )


_Q08_SQL = """
    SELECT event_type,
           CAST(row_number() OVER (ORDER BY event_type) - 1 AS BIGINT) AS class_id
    FROM (SELECT DISTINCT event_type FROM events) ORDER BY event_type
"""


def q09_tile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4: the tiling operator — reference loop semantics (stride
    steps, clamped edge tiles, row-major ordinals, pixel-offset tile
    ids) as explode(sequence) column math.

    CONTRACT: result rows are UNORDERED; row identity and row-major
    order are carried by the `ordinal` column. Consumers must compare
    order-insensitively (the driver's sorted-hash does;
    tests/run_oracle_check.py sorts)."""
    from georip_spark.operators.tiling import tile_grid

    rasters = _rasters_from_part(spark, sf_dir)
    return tile_grid(rasters).select(
        "doc_id", "media_ref",
        F.col("tile_row").cast("long").alias("tile_row"),
        F.col("tile_col").cast("long").alias("tile_col"),
        F.col("tile_w").cast("long").alias("tile_w"),
        F.col("tile_h").cast("long").alias("tile_h"),
        F.col("ordinal").cast("long").alias("ordinal"),
        "minx", "miny", "maxx", "maxy",
        # UNSORTED output: row-major order is CARRIED by `ordinal`,
        # and a global sort of a pure enumeration is the plan you'd
        # never run at 10^12 tiles — its range-partitioner sampling
        # re-executes the whole fan-out stage (measured 2.34s → 0.315s
        # at sf0.1 dropping it, round 5). Round 6 drops the
        # partition-local sort too: it added a full comparison pass
        # over every fan-out row for presentation only. The driver
        # compare is order-insensitive (sorted-hash).
    )


_Q09_SQL = f"""
    WITH r AS ({_RASTERS_SQL}),
    g1 AS (SELECT *, unnest(generate_series(0, height - 1, stride)) AS tile_row FROM r),
    g2 AS (SELECT *, unnest(generate_series(0, width - 1, stride)) AS tile_col FROM g1)
    SELECT doc_id,
           doc_id || '_tile_' || tile_row || '_' || tile_col AS media_ref,
           tile_row, tile_col,
           CASE WHEN tile_size < width - tile_col THEN tile_size ELSE width - tile_col END AS tile_w,
           CASE WHEN tile_size < height - tile_row THEN tile_size ELSE height - tile_row END AS tile_h,
           (tile_row // stride) * ((width + stride - 1) // stride) + (tile_col // stride) AS ordinal,
           tc + tile_col * 1.0 AS minx,
           tf - (tile_row + (CASE WHEN tile_size < height - tile_row THEN tile_size ELSE height - tile_row END)) * 1.0 AS miny,
           tc + (tile_col + (CASE WHEN tile_size < width - tile_col THEN tile_size ELSE width - tile_col END)) * 1.0 AS maxx,
           tf - tile_row * 1.0 AS maxy
    FROM g2 ORDER BY doc_id, ordinal
"""


def q10_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J5: the cell-indexed point-in-polygon join — event points vs
    supplier rectangles through the real spatial-join operator
    (cover cells → equi-join → reference-point dedup → exact numpy
    refinement). Oracle is a plain range-predicate join.

    CONTRACT: result rows are UNORDERED; pair identity is the
    (event_id, s_suppkey) columns themselves. Consumers must compare
    order-insensitively."""
    from georip_spark.operators.joins import prepare_regions, spatial_join_tiles_regions

    pts = _points_from_events(spark, sf_dir).select(
        F.col("event_id").cast("string").alias("media_ref"),
        F.col("ex").alias("minx"), F.col("ey").alias("miny"),
        F.col("ex").alias("maxx"), F.col("ey").alias("maxy"),
    )
    rects = _rects_from_supplier(spark, sf_dir).select(
        "s_suppkey",
        F.format_string(
            "POLYGON ((%.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f))",
            "rminx", "rminy", "rmaxx", "rminy", "rmaxx", "rmaxy",
            "rminx", "rmaxy", "rminx", "rminy",
        ).alias("geometry"),
    )
    # res=12 (cell 256): candidates/probe scale as density·(rect+cell)²,
    # and the sf1.0 A/B read res11 5.1s / res12 4.1s / res13 4.1s /
    # res14 4.9s (OPTIMIZATION_r06.md) — res only changes candidate
    # generation, never the joined row set (row count verified equal)
    prepared = prepare_regions(rects, res=12)
    joined = spatial_join_tiles_regions(
        pts, prepared, res=12, how="inner", on_years=False, clip=False,
        broadcast_regions=True,
        # the regions are axis-aligned rects, so the JVM bbox
        # prefilter IS the exact intersects test — skip the Arrow
        # refinement stage entirely (caller knowledge, same rows)
        refine=False,
    )
    return joined.select(
        F.col("media_ref").cast("long").alias("event_id"), "s_suppkey"
        # UNSORTED, same rationale as q09: pair identity is the
        # (event_id, s_suppkey) columns; the round-5 partition-local
        # sort was a full extra pass over ~180M pairs at sf1.0 for
        # presentation only (measured ~4.1s → 3.2s dropping it)
    )


_Q10_SQL = f"""
    WITH p AS ({_POINTS_SQL}), r AS ({_RECTS_SQL})
    SELECT event_id, s_suppkey
    FROM p JOIN r ON ex BETWEEN rminx AND rmaxx AND ey BETWEEN rminy AND rmaxy
    ORDER BY event_id, s_suppkey
"""


def q11_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12: kNN via grid-disk candidate rings + windowed top-k with
    brute-force fallback. k=3 nearest supplier points per event.

    CONTRACT: result rows are UNORDERED across partitions; neighbor
    order is carried by the `rank` column (1..k per event_id).
    Consumers must compare order-insensitively."""
    from georip_spark.operators.joins import knn_join

    # deterministic 1/5 sample keeps the candidate+fallback volume sane
    # at every SF while exercising the full operator (oracle mirrors it)
    left = _points_from_events(spark, sf_dir).filter(F.col("event_id") % 5 == 0)
    right = _supplier_points(spark, sf_dir)
    res = knn_join(
        left, right, k=3, res=12, ring=1,
        left_xy=("ex", "ey"), right_xy=("sx", "sy"),
        left_key="event_id", right_key="s_suppkey",
    )
    return res.select(
        "event_id", "s_suppkey",
        F.round("dist", 6).alias("dist"),
        F.col("rn").cast("long").alias("rank"),
        # per-partition sort, same rationale as q09: neighbor order is
        # CARRIED by `rank`; a global sort re-executes the kNN's last
        # stage for range sampling
    ).sortWithinPartitions("event_id", "rank")


_Q11_SQL = f"""
    WITH p0 AS ({_POINTS_SQL}),
    p AS (SELECT * FROM p0 WHERE event_id % 5 = 0),
    s AS (SELECT s_suppkey,
                 CAST((s_suppkey * 577) % 4000 AS DOUBLE) AS sx,
                 CAST((s_suppkey * 991) % 4000 AS DOUBLE) AS sy
          FROM supplier),
    d AS (SELECT event_id, s_suppkey,
                 sqrt((ex - sx) * (ex - sx) + (ey - sy) * (ey - sy)) AS dist
          FROM p, s),
    r AS (SELECT *, row_number() OVER (PARTITION BY event_id
                 ORDER BY dist, s_suppkey) AS rn FROM d)
    SELECT event_id, s_suppkey, ROUND(dist, 6) AS dist, CAST(rn AS BIGINT) AS rank
    FROM r WHERE rn <= 3 ORDER BY event_id, rank
"""


def q12_cell_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-index assignment (the H3-like packing) as pure column
    math, aggregated per cell — the skew-visibility query."""
    from georip_spark.geo.cells import cell_expr

    pts = _points_from_events(spark, sf_dir)
    return (
        pts.select(cell_expr(F.col("ex"), F.col("ey"), 10))
        .groupBy("cell")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("cell")
    )


_Q12_SQL = f"""
    WITH p AS ({_POINTS_SQL})
    SELECT CAST(10 * {_SH58} + (CAST(FLOOR(ex / 1024.0) AS BIGINT) + {_OFF}) * {_SH29}
                + CAST(FLOOR(ey / 1024.0) AS BIGINT) + {_OFF} AS BIGINT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM p GROUP BY 1 ORDER BY cell
"""


def q13_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: md5 fingerprint groups over documents."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text")).alias("fingerprint"))
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
        )
        .orderBy("fingerprint")
    )


_Q13_SQL = """
    SELECT md5(text) AS fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
    FROM documents GROUP BY 1 ORDER BY fingerprint
"""


def q14_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring: length / token count / punctuation
    density per document (training-data pipeline op)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length("text").cast("long").alias("n_chars_actual"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        F.length(F.regexp_replace(F.col("text"), "[^.,!?;:]", "")).cast("long").alias("n_punct"),
        (F.length("text") - F.length(F.regexp_replace(F.col("text"), " ", ""))).cast("long").alias("n_spaces"),
    ).orderBy("doc_id")


_Q14_SQL = """
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars_actual,
           CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(LENGTH(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
           CAST(LENGTH(text) - LENGTH(replace(text, ' ', '')) AS BIGINT) AS n_spaces
    FROM documents ORDER BY doc_id
"""


def q15_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k similarity search over the embeddings
    table (ANN baseline). Query vector = embedding of vec_id 0.
    Scores rounded to 4 before ranking so float32-accumulation noise
    can't flip ranks between engines; ties broken by vec_id."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    dot = F.aggregate(
        F.zip_with("embedding", "qv", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(dot, 4).alias("score"))
    )
    # pre-shrink BEFORE the rank window (round 6): orderBy().limit(20)
    # plans as TakeOrderedAndProject — each partition keeps its local
    # top-20 and only those reach the driver-side merge — where the
    # old global row_number() window funneled EVERY scored row through
    # one partition. (score desc, vec_id) is a total order (vec_id
    # unique), so the kept rows and their ranks are identical.
    top = scored.orderBy(F.col("score").desc(), F.col("vec_id").asc()).limit(20)
    w = Window.orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("rank", "vec_id", "score")
        .orderBy("rank")
    )


_Q15_SQL = """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT vec_id,
               ROUND(list_sum(list_transform(list_zip(embedding, qv),
                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 4) AS score
        FROM embeddings, q WHERE vec_id <> 0
    )
    SELECT CAST(rank AS BIGINT) AS rank, vec_id, score FROM (
        SELECT *, row_number() OVER (ORDER BY score DESC, vec_id ASC) AS rank FROM scored
    ) WHERE rank <= 20 ORDER BY rank
"""


# ---------------------------------------------------------------------
# q16-q18: dataset splits
# ---------------------------------------------------------------------

def q16_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1/W5: per-class ratio split with seeded-hash ordering."""
    from georip_spark.operators.splits import stratified_split

    o = _t(spark, sf_dir, "orders")
    split = stratified_split(o, "o_orderpriority", "o_orderkey", 0.7, 0.15)
    return (
        split.groupBy("o_orderpriority", "type")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("o_orderpriority", "type")
    )


_Q16_SQL = """
    WITH s AS (
        SELECT o_orderpriority,
               CASE WHEN rn * 1.0 / cnt <= 0.7 THEN 'train'
                    WHEN rn * 1.0 / cnt <= 0.85 THEN 'val'
                    ELSE 'test' END AS type
        FROM (SELECT o_orderpriority,
                     row_number() OVER (PARTITION BY o_orderpriority
                         ORDER BY md5(o_orderkey || '#42'), o_orderkey) AS rn,
                     count(*) OVER (PARTITION BY o_orderpriority) AS cnt
              FROM orders)
    )
    SELECT o_orderpriority, type, CAST(count(*) AS BIGINT) AS n
    FROM s GROUP BY 1, 2 ORDER BY 1, 2
"""


def q17_alternating_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: cross-split duplicate resolution with alternating sides."""
    from georip_spark.operators.splits import alternating_dedup_pairs

    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 2 == 0)
    b = o.filter(F.col("o_orderkey") % 2 == 1)
    return alternating_dedup_pairs(a, b, "o_custkey").orderBy("o_custkey")


_Q17_SQL = """
    WITH dup AS (
        SELECT o_custkey FROM (SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey % 2 = 0)
        INTERSECT
        SELECT o_custkey FROM (SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey % 2 = 1)
    )
    SELECT o_custkey,
           CASE WHEN row_number() OVER (ORDER BY o_custkey) % 2 = 1 THEN 'a' ELSE 'b' END AS removed_from
    FROM dup ORDER BY o_custkey
"""


def q18_seeded_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11/O3: n = min(|background|, ratio*|truth|) seeded sample
    (background = BUILDING segment, ratio = 0.5)."""
    from georip_spark.operators.splits import shuffle_key

    c = _t(spark, sf_dir, "customer")
    bg = c.filter(F.col("c_mktsegment") == "BUILDING")
    counts = c.agg(
        F.sum(F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0)).alias("n_bg"),
        F.sum(F.when(F.col("c_mktsegment") != "BUILDING", 1).otherwise(0)).alias("n_truth"),
    )
    from pyspark.sql.window import Window as W

    ranked = bg.withColumn(
        "rn", F.row_number().over(
            W.orderBy(shuffle_key(F.col("c_custkey")), "c_custkey")
        )
    )
    return (
        ranked.crossJoin(F.broadcast(counts))
        .filter(F.col("rn") <= F.least(F.col("n_bg"), F.floor(0.5 * F.col("n_truth"))))
        .select("c_custkey")
        .orderBy("c_custkey")
    )


_Q18_SQL = """
    WITH lims AS (
        SELECT SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS n_bg,
               SUM(CASE WHEN c_mktsegment <> 'BUILDING' THEN 1 ELSE 0 END) AS n_truth
        FROM customer),
    ranked AS (
        SELECT c_custkey, row_number() OVER (ORDER BY md5(c_custkey || '#42'), c_custkey) AS rn
        FROM customer WHERE c_mktsegment = 'BUILDING')
    SELECT c_custkey FROM ranked, lims
    WHERE rn <= LEAST(n_bg, FLOOR(0.5 * n_truth)) ORDER BY c_custkey
"""


def q26_payload_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/A8/F12: min-max payload normalization with nodata handling —
    per-doc stats of the normalized synthetic payload. Payload values
    are pure arithmetic on (doc key, pixel index) so the oracle
    regenerates them in SQL."""
    from georip_spark.operators.rastervec import normalize_payload_pandas

    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 20 == 0)
    p2 = p.select(
        "p_partkey",
        F.expr(
            "transform(sequence(0, 255), i -> CASE WHEN pmod(p_partkey * 7 + i * 13, 97) < 5 "
            "THEN CAST(-9999.0 AS DOUBLE) "
            "ELSE CAST(pmod(p_partkey * 2654435761 + i * 40503, 1048576) / 1048576.0 * 2.0 - 1.0 AS DOUBLE) END)"
        ).alias("payload"),
    )
    normed = p2.select(
        "p_partkey",
        normalize_payload_pandas(F.col("payload"), F.lit(-9999.0)).alias("norm"),
    )
    return normed.select(
        "p_partkey",
        F.round(F.array_min(F.filter("norm", lambda v: v.isNotNull())), 6).alias("norm_min"),
        F.round(F.array_max(F.filter("norm", lambda v: v.isNotNull())), 6).alias("norm_max"),
        F.round(
            F.aggregate(
                F.filter("norm", lambda v: v.isNotNull()),
                F.lit(0.0),
                lambda acc, v: acc + v.cast("double"),
            ), 4
        ).alias("norm_sum"),
        F.size(F.filter("norm", lambda v: v.isNull())).cast("long").alias("n_nodata"),
    ).orderBy("p_partkey")


_Q26_SQL = """
    WITH p AS (SELECT p_partkey FROM part WHERE p_partkey % 20 = 0),
    pay AS (SELECT p_partkey,
            list_transform(generate_series(0, 255), i ->
                CASE WHEN (p_partkey * 7 + i * 13) % 97 < 5 THEN CAST(-9999.0 AS DOUBLE)
                     ELSE CAST((p_partkey * 2654435761 + i * 40503) % 1048576 / 1048576.0 * 2.0 - 1.0 AS DOUBLE) END
            ) AS payload FROM p),
    st AS (SELECT p_partkey, payload,
                  list_min(list_filter(payload, v -> v <> -9999.0)) AS lo,
                  list_max(list_filter(payload, v -> v <> -9999.0)) AS hi
           FROM pay),
    nm AS (SELECT p_partkey,
                  list_transform(list_filter(payload, v -> v <> -9999.0),
                                 v -> CASE WHEN hi = lo THEN 0.0 ELSE (v - lo) / (hi - lo) END) AS norm,
                  len(list_filter(payload, v -> v = -9999.0)) AS n_nodata
           FROM st)
    SELECT p_partkey,
           ROUND(list_min(norm), 6) AS norm_min,
           ROUND(list_max(norm), 6) AS norm_max,
           ROUND(list_sum(norm), 4) AS norm_sum,
           CAST(n_nodata AS BIGINT) AS n_nodata
    FROM nm ORDER BY p_partkey
"""


def q27_vectorize_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1/R2 vectorize: above-threshold region polygons per payload.
    The tracing itself (connected components + boundary walk) is
    non-SQL, but its AREA is checkable: exact rectilinear rings on
    pixel boundaries ⇒ polygon area (shells − holes) == count of
    above-threshold pixels, which DuckDB recomputes from the same
    deterministic payload — so the oracle catches any ring-tracing,
    hole-handling or area-kernel bug that changes covered pixels."""
    from georip_spark.operators.rastervec import vectorize_payload
    from georip_spark.operators import jvm_wkt

    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 50 == 0)
    p2 = p.select(
        "p_partkey",
        F.expr(
            "transform(sequence(0, 255), i -> "
            "CAST(pmod(p_partkey * 2654435761 + i * 40503, 1048576) / 1048576.0 AS FLOAT))"
        ).alias("payload"),
    )
    vec = p2.select(
        "p_partkey",
        vectorize_payload(F.col("payload"), F.lit(16), F.lit(0.5)).alias("geometry"),
    )
    stats = jvm_wkt.attach_stats(vec, "geometry")
    return stats.select(
        "p_partkey",
        F.round("area", 2).alias("area"),
        F.col("is_empty"),
    ).orderBy("p_partkey")


_Q27_SQL = """
    WITH p AS (SELECT p_partkey FROM part WHERE p_partkey % 50 = 0),
    c AS (SELECT p_partkey,
            list_sum(list_transform(generate_series(0, 255), i ->
                CASE WHEN (p_partkey * 2654435761 + i * 40503) % 1048576 / 1048576.0 > 0.5
                     THEN 1 ELSE 0 END)) AS cnt
          FROM p)
    SELECT p_partkey, ROUND(CAST(cnt AS DOUBLE), 2) AS area, cnt = 0 AS is_empty
    FROM c ORDER BY p_partkey
"""


def q28_dissolve_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/A7: merge-overlapping-geometries — cell-indexed overlap
    self-join + iterative connected components. Oracle recomputes the
    components with a recursive CTE over the pair graph."""
    from georip_spark.operators.dissolve import connected_components, overlap_pairs
    from georip_spark.operators.joins import prepare_regions

    rects = _rects_from_supplier(spark, sf_dir).select(
        "s_suppkey",
        F.format_string(
            "POLYGON ((%.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f))",
            "rminx", "rminy", "rmaxx", "rminy", "rmaxx", "rmaxy",
            "rminx", "rmaxy", "rminx", "rminy",
        ).alias("geometry"),
    )
    prepared = prepare_regions(rects, res=11)
    pairs = overlap_pairs(prepared, buffer=0.0, res=11)
    comps = connected_components(pairs, prepared.select("geom_id"))
    member = prepared.select("geom_id", "s_suppkey", "geometry").join(comps, "geom_id")

    # per-component boolean-union area (A7 unary_union parity): exact
    # slab-decomposition union over the member rectangles; the oracle
    # recomputes it with SQL coordinate compression — integer coords ⇒
    # exact doubles on both engines
    import pandas as pd

    from georip_spark.geo import boolean
    from georip_spark.geo import wkt as W

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        mps = []
        for g in pdf["geometry"]:
            try:
                mp = W.parse_wkt(g)
            except (ValueError, IndexError):
                mp = []
            if mp:
                mps.append(mp)
        return pd.DataFrame(
            [
                {
                    "component_key": int(pdf["s_suppkey"].min()),
                    "n_members": len(pdf),
                    "union_area": boolean.union_area(mps),
                }
            ]
        )

    out = member.groupBy("component").applyInPandas(
        agg, "component_key long, n_members long, union_area double"
    )
    return out.select(
        "component_key", "n_members", F.round("union_area", 2).alias("union_area")
    ).orderBy("component_key")


_Q28_SQL = f"""
    WITH RECURSIVE r AS ({_RECTS_SQL}),
    e AS (
        SELECT a.s_suppkey AS src, b.s_suppkey AS dst
        FROM r a JOIN r b
        ON a.rminx <= b.rmaxx AND a.rmaxx >= b.rminx
       AND a.rminy <= b.rmaxy AND a.rmaxy >= b.rminy
    ),
    reach(id, comp) AS (
        SELECT s_suppkey, s_suppkey FROM r
        UNION
        SELECT e.dst, reach.comp FROM reach JOIN e ON e.src = reach.id
    ),
    lab AS (SELECT id, MIN(comp) AS component_key FROM reach GROUP BY id),
    -- boolean-union area per component via coordinate compression:
    -- member rect edges cut the component into grid cells; a cell is
    -- covered iff some member spans it; union area = Σ covered cells.
    -- Integer coords ⇒ every double is exact on both engines.
    m AS (SELECT lab.component_key, r.* FROM r JOIN lab ON r.s_suppkey = lab.id),
    xs0 AS (SELECT component_key, rminx AS x FROM m
            UNION SELECT component_key, rmaxx FROM m),
    xs AS (SELECT component_key, x AS x0,
                  LEAD(x) OVER (PARTITION BY component_key ORDER BY x) AS x1
           FROM xs0),
    ys0 AS (SELECT component_key, rminy AS y FROM m
            UNION SELECT component_key, rmaxy FROM m),
    ys AS (SELECT component_key, y AS y0,
                  LEAD(y) OVER (PARTITION BY component_key ORDER BY y) AS y1
           FROM ys0),
    cells AS (SELECT xs.component_key, x0, x1, y0, y1
              FROM xs JOIN ys USING (component_key)
              WHERE x1 IS NOT NULL AND y1 IS NOT NULL),
    covered AS (SELECT DISTINCT c.component_key, c.x0, c.x1, c.y0, c.y1
                FROM cells c JOIN m ON m.component_key = c.component_key
                 AND m.rminx <= c.x0 AND m.rmaxx >= c.x1
                 AND m.rminy <= c.y0 AND m.rmaxy >= c.y1),
    ua AS (SELECT component_key,
                  SUM((x1 - x0) * (y1 - y0)) AS union_area
           FROM covered GROUP BY component_key)
    SELECT lab.component_key, CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(ANY_VALUE(ua.union_area), 2) AS union_area
    FROM lab JOIN ua ON ua.component_key = lab.component_key
    GROUP BY lab.component_key ORDER BY lab.component_key
"""


def q29_docs_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract INPUT path (BASELINE.json input_hint / SURVEY §1.3):
    build the docs(doc_id, spans) table, then drive the engine FROM it
    — posexplode media spans, parse pixel windows out of media_ref,
    re-derive ordinals + CRS footprints via the raster-metadata join
    (pipeline.tiles_from_docs). The oracle computes the same per-doc
    aggregates directly from the tile-grid derivation, so any ingest
    bug (span parse, ordinal law, affine) breaks the hash."""
    from georip_spark import synth
    from georip_spark.pipeline import tiles_from_docs

    rasters = _rasters_from_part(spark, sf_dir)
    docs = synth.synth_docs(spark, rasters)
    tiles = tiles_from_docs(docs, rasters)
    return (
        tiles.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_media"),
            F.sum("ordinal").cast("long").alias("sum_ordinal"),
            F.sum((F.col("tile_w") * F.col("tile_h")).cast("long")).cast("long").alias("sum_px"),
            F.round(F.min("minx"), 6).alias("grid_minx"),
            F.round(F.max("maxy"), 6).alias("grid_maxy"),
        )
        .orderBy("doc_id")
    )


_Q29_SQL = f"""
    WITH r AS ({_RASTERS_SQL}),
    g1 AS (SELECT *, unnest(generate_series(0, height - 1, stride)) AS tile_row FROM r),
    g2 AS (SELECT *, unnest(generate_series(0, width - 1, stride)) AS tile_col FROM g1),
    t AS (SELECT doc_id,
           (tile_row // stride) * ((width + stride - 1) // stride) + (tile_col // stride) AS ordinal,
           CASE WHEN tile_size < width - tile_col THEN tile_size ELSE width - tile_col END AS tile_w,
           CASE WHEN tile_size < height - tile_row THEN tile_size ELSE height - tile_row END AS tile_h,
           tc + tile_col * 1.0 AS minx,
           tf - tile_row * 1.0 AS maxy
    FROM g2)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_media,
           CAST(SUM(ordinal) AS BIGINT) AS sum_ordinal,
           CAST(SUM(tile_w * tile_h) AS BIGINT) AS sum_px,
           ROUND(MIN(minx), 6) AS grid_minx,
           ROUND(MAX(maxy), 6) AS grid_maxy
    FROM t GROUP BY doc_id ORDER BY doc_id
"""


def _regions_from_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic truth regions for the span-parity queries: two
    axis-aligned rects per part-derived raster, placed inside the
    raster extent with pure integer arithmetic (mirrored in the
    oracle's SQL). Every third (part, j) is Background — exercising
    the class-encode drop path."""
    p = _t(spark, sf_dir, "part")
    pk, jj = F.col("p_partkey"), F.col("j")
    wd = F.lit(256) + (pk % 8) * 128
    ht = F.lit(256) + (F.col("p_size") % 8) * 128
    r = p.select(
        "p_partkey", "p_size", F.explode(F.array(F.lit(0), F.lit(1))).alias("j")
    )
    rx0 = (pk % 64) * 5000.0 + ((pk * 31 + jj * 97) % (wd - 64)).cast("double")
    ry1 = F.floor(pk / 64) * 5000.0 - ((pk * 17 + jj * 53) % (ht - 64)).cast("double")
    sx = (F.lit(48) + ((pk + jj) % 5) * 40).cast("double")
    sy = (F.lit(48) + ((pk * 3 + jj) % 7) * 24).cast("double")
    return r.select(
        F.concat(F.lit("Part"), pk.cast("string")).alias("region"),
        F.lit(2019).alias("start_year"),
        F.lit(2020).alias("end_year"),
        F.when((pk + jj) % 3 == 0, "Background").otherwise("Treatment").alias("class_name"),
        F.format_string(
            "POLYGON ((%.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f))",
            rx0, ry1 - sy, rx0 + sx, ry1 - sy, rx0 + sx, ry1, rx0, ry1, rx0, ry1 - sy,
        ).alias("geometry"),
    )


def _spans_of(docs_out: DataFrame) -> DataFrame:
    """Explode docs(doc_id, spans) to one row per span — the per-row
    form of the BASELINE.json invariant (kind, text, media_ref, order)."""
    s = docs_out.select("doc_id", F.explode("spans").alias("s"))
    return s.select(
        "doc_id",
        F.col("s.offset").alias("pos"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    ).orderBy("doc_id", "pos")


def q31_spans_from_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASELINE.json per-row correctness gate, driver-checked: the
    FULL span sequence (kind, text, media_ref, order) emitted by the
    contract docs-input path (pipeline.from_docs), one row per span.
    The oracle derives the complete expected sequence independently in
    SQL — tile grid, per-part truth rects, Sutherland–Hodgman clip
    vertex order (BL-start CCW, rotated to BR-start iff the region's
    bottom edge is clipped), banker's-rounded fmt6 label text, and the
    composite (ordinal, kind, class, label) span ordering."""
    from georip_spark import synth
    from georip_spark.pipeline import from_docs

    rasters = _rasters_from_part(spark, sf_dir)
    docs = synth.synth_docs(spark, rasters)
    regions = _regions_from_part(spark, sf_dir)
    # res="auto": q31 exercises the data-driven grid resolution
    # (joins.auto_res) under the driver's per-row gate; q32 keeps the
    # explicit DEFAULT_RES so both settings stay driver-covered. The
    # span output is res-invariant (cells are candidates, clip
    # decides), which is exactly what sharing _q31_sql verifies.
    return _spans_of(from_docs(docs, rasters, regions, res="auto")["docs_out"])


def q32_spans_build_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same per-row span-sequence invariant for the raster-driven
    path (pipeline.build_dataset), against the SAME oracle SQL — both
    entry paths pinned per-row to one independent derivation, which
    implies from_docs ≡ build_dataset span-for-span."""
    from georip_spark.pipeline import build_dataset

    rasters = _rasters_from_part(spark, sf_dir)
    regions = _regions_from_part(spark, sf_dir)
    return _spans_of(build_dataset(rasters, regions)["docs_out"])


def q33_lineage_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineage/resume under the driver's per-row gate (VERDICT r3 #6):
    run the checkpointed pipeline (lineage.run_pipeline_with_lineage —
    tiles and docs_out land in bucketed parquet with a manifest), then
    simulate a crash by dropping one completed bucket + its manifest
    entry from EACH stage, resume, and emit the span sequence. The
    resumed output must equal q32's exactly (same _q31_sql oracle):
    resume recomputes only the missing buckets, losing and duplicating
    nothing. Reference has no resumability (per-file exist_ok only,
    georip/raster/tools.py:276-279); this is the north_rule's
    per-partition checkpoint lineage."""
    import tempfile

    from georip_spark.lineage import StageStore, run_pipeline_with_lineage

    rasters = _rasters_from_part(spark, sf_dir)
    regions = _regions_from_part(spark, sf_dir)
    # the store must outlive this call (the returned DF reads from it
    # lazily; the driver collects after we return) — a per-run temp
    # dir under the system tmp, cleaned by the OS
    root = tempfile.mkdtemp(prefix="georip_q33_")
    store = StageStore(root)
    # first full run materializes every bucket (run_stage is eager)
    run_pipeline_with_lineage(spark, rasters, regions, store, n_buckets=8)
    # simulated crash: one bucket gone from each stage
    store.drop_bucket("tiles", 1)
    store.drop_bucket("docs_out", 2)
    resumed = run_pipeline_with_lineage(spark, rasters, regions, store, n_buckets=8)
    return _spans_of(resumed)


def _q31_sql() -> str:
    # fmt6 mirror: the engine's clip kernel rounds with np.round
    # (banker's) and fmt6 strips trailing zeros — round_even + printf
    # reproduce both; values are exact dyadic ratios (integer coords /
    # power-of-two tile sizes), so the rounding ties agree bit-for-bit
    def f6(x: str) -> str:
        return (
            "regexp_replace(regexp_replace(printf('%.6f', round_even(CAST("
            + x
            + " AS DOUBLE), 6)), '0+$', ''), '\\.$', '.0')"
        )

    uL, uR = "((ix0 - tminx) / tw)", "((ix1 - tminx) / tw)"
    vB, vT = "((tmaxy - iy0) / th)", "((tmaxy - iy1) / th)"

    def seq(pts: list[str]) -> str:
        return " || ' ' || ".join(f6(p) for p in pts)

    bl = seq([uL, vB, uR, vB, uR, vT, uL, vT, uL, vB])
    br = seq([uR, vB, uR, vT, uL, vT, uL, vB, uR, vB])
    return f"""
    WITH rr AS (
        SELECT p_partkey AS pk,
               'Part' || p_partkey || '_2019to2020_NDVI_Difference' AS doc_id,
               CAST(256 + (p_partkey % 8) * 128 AS BIGINT) AS width,
               CAST(256 + (p_size % 8) * 128 AS BIGINT) AS height,
               CAST(128 AS BIGINT) AS tile_size,
               CAST(CASE WHEN p_partkey % 5 = 0 THEN 64 ELSE 128 END AS BIGINT) AS stride,
               (p_partkey % 64) * 5000.0 AS tc,
               CAST(FLOOR(p_partkey / 64) AS BIGINT) * 5000.0 AS tf
        FROM part),
    g1 AS (SELECT *, unnest(generate_series(0, height - 1, stride)) AS trow FROM rr),
    g2 AS (SELECT *, unnest(generate_series(0, width - 1, stride)) AS tcol FROM g1),
    t2 AS (SELECT doc_id,
            (trow // stride) * ((width + stride - 1) // stride) + (tcol // stride) AS ordinal,
            doc_id || '_tile_' || trow || '_' || tcol AS media_ref,
            CASE WHEN tile_size < width - tcol THEN tile_size ELSE width - tcol END AS tw,
            CASE WHEN tile_size < height - trow THEN tile_size ELSE height - trow END AS th,
            tc + tcol AS tminx,
            tf - trow AS tmaxy,
            tc + tcol + (CASE WHEN tile_size < width - tcol THEN tile_size ELSE width - tcol END) AS tmaxx,
            tf - trow - (CASE WHEN tile_size < height - trow THEN tile_size ELSE height - trow END) AS tminy
        FROM g2),
    reg AS (SELECT doc_id,
            tc + ((pk * 31 + j * 97) % (width - 64)) AS rx0,
            tf - ((pk * 17 + j * 53) % (height - 64)) AS ry1,
            48 + ((pk + j) % 5) * 40 AS sx,
            48 + ((pk * 3 + j) % 7) * 24 AS sy
        FROM rr CROSS JOIN (SELECT unnest([0, 1]) AS j) js
        WHERE (pk + j) % 3 != 0),
    reg2 AS (SELECT doc_id, rx0, rx0 + sx AS rx1, ry1 - sy AS ry0, ry1 FROM reg),
    pairs AS (SELECT t2.doc_id, t2.ordinal, t2.media_ref, tminx, tmaxy, tw, th, ry0, tminy,
            GREATEST(rx0, tminx) AS ix0, LEAST(rx1, tmaxx) AS ix1,
            GREATEST(ry0, tminy) AS iy0, LEAST(ry1, tmaxy) AS iy1
        FROM t2 JOIN reg2 USING (doc_id)
        WHERE LEAST(rx1, tmaxx) > GREATEST(rx0, tminx)
          AND LEAST(ry1, tmaxy) > GREATEST(ry0, tminy)),
    lab AS (SELECT doc_id, ordinal, media_ref,
            '0 ' || CASE WHEN ry0 >= tminy THEN {bl} ELSE {br} END AS text
        FROM pairs),
    sp AS (
        SELECT doc_id, ordinal, 0 AS k, -2147483648 AS cid, '' AS text, media_ref FROM t2
        UNION ALL
        SELECT doc_id, ordinal, 1 AS k, 0 AS cid, text, media_ref FROM lab)
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ordinal, k, cid, text) - 1 AS INTEGER) AS pos,
           CASE WHEN k = 0 THEN 'media' ELSE 'text' END AS kind,
           text, media_ref
    FROM sp ORDER BY doc_id, pos
"""


_Q31_SQL = _q31_sql()


# ---------------------------------------------------------------------
# driver API
# ---------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: tile part-derived rasters, PIP-join tile footprints
    against supplier rectangles through the cell-indexed spatial join,
    summarize per doc. Exercises tiling + cell cover + join + agg."""
    from georip_spark.operators.joins import prepare_regions, spatial_join_tiles_regions
    from georip_spark.operators.tiling import tile_grid

    sf = SF_DEFAULT
    tiles = tile_grid(_rasters_from_part(spark, sf))
    # rects spread over the same CRS domain as the part-derived rasters
    # (x origins step 5000 over 64 columns, y over rows) so the join
    # actually matches across many docs
    sup = _t(spark, sf, "supplier")
    rects = sup.select(
        "s_suppkey",
        ((F.col("s_suppkey") * 9973) % 320000).cast("double").alias("rminx"),
        (((F.col("s_suppkey") * 331) % 24000) - 2000).cast("double").alias("rminy"),
    ).select(
        "s_suppkey",
        F.format_string(
            "POLYGON ((%.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f))",
            F.col("rminx"), F.col("rminy"),
            F.col("rminx") + 3000.0, F.col("rminy"),
            F.col("rminx") + 3000.0, F.col("rminy") + 3000.0,
            F.col("rminx"), F.col("rminy") + 3000.0,
            F.col("rminx"), F.col("rminy"),
        ).alias("geometry"),
    )
    joined = spatial_join_tiles_regions(
        tiles, prepare_regions(rects, res=9), res=9, how="inner",
        on_years=False, clip=True, broadcast_regions=True,
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_matches"),
            F.countDistinct("media_ref").cast("long").alias("n_tiles_matched"),
        )
        .orderBy("doc_id")
    )


def q35_holed_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hole-aware clip + largest-part selection, driver-gated
    (jvm_clip.clip_normalize_coords over the `rings` of
    jvm_wkt.attach_stats — the pipeline's general clip arm, fed by its
    dim-side WKT parse). Deterministic fixtures from `documents`: per
    doc i, a MULTIPOLYGON of part A = rect shell with a rect hole (key =
    wa·ha − hw·hh) and part B = solid rect (key = wb·hb), everything
    strictly inside the 100×100 tile with integer coords, so DuckDB
    derives the winner and its normalized closed shell from pure
    integer arithmetic while Spark runs the real parse → 4-pass S-H →
    |shell|−Σ|holes| selection → round-6 normalize. Ties keep part A
    on both sides (kernel: strictly-greater replacement; oracle:
    key_b > key_a). Reference semantics:
    georip/geoprocessing/mapping.py:259-261 (shapely intersection →
    largest part), re-derived."""
    from georip_spark.operators import jvm_clip, jvm_wkt

    d = _t(spark, sf_dir, "documents")
    w = Window.orderBy("doc_id")
    p = (
        # pre-shrink BEFORE the single-partition window: limit(200)
        # runs as a partial+global TakeOrdered, so only 200 rows ever
        # reach the row_number sort
        d.select("doc_id").orderBy("doc_id").limit(200)
        .withColumn("i", F.row_number().over(w) - 1)
        .select(
            "doc_id",
            (F.lit(20) + (F.col("i") * 7) % 31).alias("wa"),
            (F.lit(20) + (F.col("i") * 11) % 29).alias("ha"),
            (F.lit(15) + (F.col("i") * 13) % 25).alias("wb"),
            (F.lit(15) + (F.col("i") * 17) % 23).alias("hb"),
            "i",
        )
        .select(
            "*",
            (F.lit(1) + (F.col("i") * 3) % (F.col("wa") - 5)).alias("hw"),
            (F.lit(1) + (F.col("i") * 5) % (F.col("ha") - 5)).alias("hh"),
        )
    )
    wkt = F.format_string(
        "MULTIPOLYGON (((10 10, %s 10, %s %s, 10 %s, 10 10), "
        "(12 12, %s 12, %s %s, 12 %s, 12 12)), "
        "((60 60, %s 60, %s %s, 60 %s, 60 60)))",
        F.lit(10) + F.col("wa"), F.lit(10) + F.col("wa"),
        F.lit(10) + F.col("ha"), F.lit(10) + F.col("ha"),
        F.lit(12) + F.col("hw"), F.lit(12) + F.col("hw"),
        F.lit(12) + F.col("hh"), F.lit(12) + F.col("hh"),
        F.lit(60) + F.col("wb"), F.lit(60) + F.col("wb"),
        F.lit(60) + F.col("hb"), F.lit(60) + F.col("hb"),
    )
    coords = jvm_clip.clip_normalize_coords(
        F.col("rings"), F.lit(0.0), F.lit(0.0), F.lit(100.0), F.lit(100.0),
    )
    stats = jvm_wkt.attach_stats(p.select("doc_id", wkt.alias("geometry")))
    return (
        stats.select("doc_id", F.posexplode(coords).alias("pos", "val"))
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "val")
        .orderBy("doc_id", "pos")
    )


_Q35_SQL = """
WITH docs AS (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS i
    FROM documents ORDER BY doc_id LIMIT 200
),
params AS (
    SELECT doc_id,
        20 + (i*7) % 31 AS wa, 20 + (i*11) % 29 AS ha,
        15 + (i*13) % 25 AS wb, 15 + (i*17) % 23 AS hb,
        1 + (i*3) % (20 + (i*7) % 31 - 5) AS hw,
        1 + (i*5) % (20 + (i*11) % 29 - 5) AS hh
    FROM docs
),
keyed AS (
    SELECT *,
        CASE WHEN wb*hb > wa*ha - hw*hh THEN 1 ELSE 0 END AS win_b
    FROM params
),
rect AS (  -- winning shell as (x0, y0, x1, y1)
    SELECT doc_id,
        CASE WHEN win_b = 1 THEN 60 ELSE 10 END AS x0,
        CASE WHEN win_b = 1 THEN 60 ELSE 10 END AS y0,
        CASE WHEN win_b = 1 THEN 60 + wb ELSE 10 + wa END AS x1,
        CASE WHEN win_b = 1 THEN 60 + hb ELSE 10 + ha END AS y1
    FROM keyed
),
flat AS (  -- closed BL-CCW ring, interleaved u,v at pos 0..9
    SELECT doc_id, unnest(generate_series(0, 9)) AS pos, x0, y0, x1, y1
    FROM rect
)
SELECT doc_id, CAST(pos AS BIGINT) AS pos,
    CASE WHEN pos % 2 = 0 THEN  -- u = x/100, vertex j = pos//2
        (CASE WHEN FLOOR(pos / 2) IN (1, 2) THEN x1 ELSE x0 END) / 100.0
    ELSE                        -- v = (100 - y)/100
        (100.0 - (CASE WHEN FLOOR(pos / 2) IN (2, 3) THEN y1 ELSE y0 END)) / 100.0
    END AS val
FROM flat ORDER BY doc_id, pos
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_region_revenue": q02_region_revenue,
        "q03_event_stats": q03_event_stats,
        "q04_distinct_dedup": q04_distinct_dedup,
        "q05_first_match": q05_first_match,
        "q06_topk_per_group": q06_topk_per_group,
        "q07_union_except": q07_union_except,
        "q08_class_encode": q08_class_encode,
        "q09_tile_grid": q09_tile_grid,
        "q10_pip_join": q10_pip_join,
        "q11_knn": q11_knn,
        "q12_cell_assign": q12_cell_assign,
        "q13_exact_dedup": q13_exact_dedup,
        "q14_text_stats": q14_text_stats,
        "q15_cosine_topk": q15_cosine_topk,
        "q16_stratified_split": q16_stratified_split,
        "q17_alternating_dedup": q17_alternating_dedup,
        "q18_seeded_sample": q18_seeded_sample,
        "q26_payload_normalize": q26_payload_normalize,
        "q27_vectorize_payload": q27_vectorize_payload,
        "q28_dissolve_components": q28_dissolve_components,
        "q29_docs_ingest": q29_docs_ingest,
        "q31_spans_from_docs": q31_spans_from_docs,
        "q32_spans_build_dataset": q32_spans_build_dataset,
        "q33_lineage_resume": q33_lineage_resume,
        "q35_holed_clip": q35_holed_clip,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q01_pricing_summary": _Q01_SQL,
        "q02_region_revenue": _Q02_SQL,
        "q03_event_stats": _Q03_SQL,
        "q04_distinct_dedup": _Q04_SQL,
        "q05_first_match": _Q05_SQL,
        "q06_topk_per_group": _Q06_SQL,
        "q07_union_except": _Q07_SQL,
        "q08_class_encode": _Q08_SQL,
        "q09_tile_grid": _Q09_SQL,
        "q10_pip_join": _Q10_SQL,
        "q11_knn": _Q11_SQL,
        "q12_cell_assign": _Q12_SQL,
        "q13_exact_dedup": _Q13_SQL,
        "q14_text_stats": _Q14_SQL,
        "q15_cosine_topk": _Q15_SQL,
        "q16_stratified_split": _Q16_SQL,
        "q17_alternating_dedup": _Q17_SQL,
        "q18_seeded_sample": _Q18_SQL,
        "q26_payload_normalize": _Q26_SQL,
        "q27_vectorize_payload": _Q27_SQL,
        "q28_dissolve_components": _Q28_SQL,
        "q29_docs_ingest": _Q29_SQL,
        "q31_spans_from_docs": _Q31_SQL,
        "q32_spans_build_dataset": _Q31_SQL,
        "q33_lineage_resume": _Q31_SQL,
        "q35_holed_clip": _Q35_SQL,
    }
