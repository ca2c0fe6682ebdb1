"""kNN join exactness across escalation/tail paths (SURVEY.md J12).

Round-2 change under test: the all-pairs tail broadcasts the SMALL
remaining-left set (or goes fully distributed), never the right
corpus — while staying exact on every path."""

from __future__ import annotations

import math

import pytest

from georip_spark.operators.joins import knn_join

K = 3


def _pts(n: int, salt: int) -> list[tuple[int, float, float]]:
    # deterministic scatter with a dense cluster + sparse outliers
    out = []
    for i in range(n):
        h = (i * 2654435761 + salt * 40503) % (1 << 20)
        x = (h % 1024) / 1024.0 * 400.0
        y = ((h // 1024) % 1024) / 1024.0 * 400.0
        if i % 17 == 0:  # sparse far outliers → escalation/tail food
            x += 4000.0 + i
            y -= 3000.0
        out.append((i, x, y))
    return out


def _brute(left, right, k=K):
    want = {}
    for lid, lx, ly in left:
        cand = sorted(
            (math.sqrt((lx - rx) ** 2 + (ly - ry) ** 2), rid) for rid, rx, ry in right
        )[:k]
        want[lid] = [(rid, round(d, 9)) for d, rid in cand]
    return want


@pytest.fixture(scope="module")
def knn_data(spark):
    left = _pts(120, salt=1)
    right = _pts(400, salt=2)
    ldf = spark.createDataFrame(left, "event_id long, cx double, cy double")
    rdf = spark.createDataFrame(right, "geom_id long, fx double, fy double")
    return left, right, ldf, rdf


def _check(df, want):
    got: dict[int, list] = {}
    for r in df.collect():
        got.setdefault(r["event_id"], []).append((r["rn"], r["geom_id"], round(r["dist"], 9)))
    assert set(got) == set(want)
    for lid, rows in got.items():
        rows.sort()
        assert [(g, d) for _, g, d in rows] == want[lid], f"left {lid}"


def test_knn_exact_default(knn_data):
    """Default path: the corpus is dimension-sized, so the broadcast-
    corpus numpy fast path (round 6) fires — must be exact."""
    left, right, ldf, rdf = knn_data
    out = knn_join(ldf, rdf, k=K, res=12, ring=1,
                   left_key="event_id", right_key="geom_id")
    _check(out, _brute(left, right))


def test_knn_ladder_exact(knn_data):
    """small_right_rows=0 forces the grid-disk ladder (the scale path
    for fact-sized corpora) — still exact after the round-6 window
    exchange-elision in the right-replication passes."""
    left, right, ldf, rdf = knn_data
    out = knn_join(ldf, rdf, k=K, res=12, ring=1, small_right_rows=0,
                   left_key="event_id", right_key="geom_id")
    _check(out, _brute(left, right))


def test_knn_forced_tail_broadcasts_left_not_right(knn_data):
    """max_ring=1 forces the tail immediately after one disk pass; the
    tail must stay exact with the remaining-left side broadcast."""
    left, right, ldf, rdf = knn_data
    out = knn_join(ldf, rdf, k=K, res=12, ring=1, max_ring=1,
                   small_right_rows=0,
                   left_key="event_id", right_key="geom_id")
    _check(out, _brute(left, right))
    # plan hygiene: no broadcast of the full right side anywhere
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan or "fx" not in plan.split(
        "BroadcastNestedLoopJoin"
    )[0]


def test_knn_distributed_tail_when_left_too_big(knn_data):
    """broadcast_tail_rows=0 → fully distributed cartesian tail (the
    memory-safe last resort); still exact."""
    left, right, ldf, rdf = knn_data
    out = knn_join(ldf, rdf, k=K, res=12, ring=1, max_ring=1,
                   broadcast_tail_rows=0, small_right_rows=0,
                   left_key="event_id", right_key="geom_id")
    _check(out, _brute(left, right))


def test_knn_ladder_leftrep_exact(knn_data):
    """tail_pair_cap=0 forbids the all-pairs tail (and the static
    fold), forcing the counted ladder through its escalation passes —
    including the left-replicated per-row-ring passes that fire once
    n_rem < |right| — until max_ring. Exactness must hold on that
    path too."""
    left, right, ldf, rdf = knn_data
    out = knn_join(ldf, rdf, k=K, res=12, ring=1, tail_pair_cap=0,
                   small_right_rows=0,
                   left_key="event_id", right_key="geom_id")
    _check(out, _brute(left, right))


def test_knn_k_exceeds_right(spark):
    """k > |right|: nothing is provable by rings; the tail must emit
    all |right| neighbors per left."""
    ldf = spark.createDataFrame([(0, 0.0, 0.0), (1, 9.0, 9.0)],
                                "event_id long, cx double, cy double")
    rdf = spark.createDataFrame([(10, 1.0, 1.0), (11, 2.0, 2.0)],
                                "geom_id long, fx double, fy double")
    out = knn_join(ldf, rdf, k=5, res=12, ring=1,
                   left_key="event_id", right_key="geom_id").collect()
    assert len(out) == 4  # 2 lefts × 2 available rights (fast path)
    out2 = knn_join(ldf, rdf, k=5, res=12, ring=1, small_right_rows=0,
                    left_key="event_id", right_key="geom_id").collect()
    assert len(out2) == 4  # same through the ladder/tail


def test_knn_fast_path_ties_and_string_keys(spark):
    """Broadcast-corpus path tie-breaking: equidistant corpus points
    must rank by right_key ascending — including string keys, whose
    numpy-side ordering must match Spark's binary string ordering."""
    ldf = spark.createDataFrame([(0, 0.0, 0.0)],
                                "event_id long, cx double, cy double")
    # four corpus points all at distance 5.0, plus one nearer
    rows = [("b", 3.0, 4.0), ("a", 4.0, 3.0), ("d", -3.0, 4.0),
            ("c", 0.0, 5.0), ("z", 0.0, 1.0)]
    rdf = spark.createDataFrame(rows, "geom_id string, fx double, fy double")
    out = knn_join(ldf, rdf, k=3, res=12, ring=1,
                   left_key="event_id", right_key="geom_id").collect()
    got = sorted((r["rn"], r["geom_id"], r["dist"]) for r in out)
    assert got == [(1, "z", 1.0), (2, "a", 5.0), (3, "b", 5.0)]


def test_knn_escalate_must_grow(knn_data):
    """escalate <= 1 can never terminate the escalation loop — it must
    be rejected up front, before any Spark job runs."""
    _, _, ldf, rdf = knn_data
    with pytest.raises(ValueError, match="escalate"):
        knn_join(ldf, rdf, k=K, escalate=1,
                 left_key="event_id", right_key="geom_id")


def test_auto_res_tracks_geometry_extent(spark):
    """auto_res picks cell ≈ 2× the median dim extent and is clamped;
    a join run at the auto res returns the same pairs as DEFAULT_RES."""
    from georip_spark.geo import cells
    from georip_spark.operators.joins import (
        auto_res, prepare_regions, spatial_join_tiles_regions,
    )
    from pyspark.sql import functions as F

    # rects with extents ~100 → want cell size in [100, 400]
    rows = [(i, float(i * 37 % 2000), float(i * 91 % 2000)) for i in range(60)]
    rects = spark.createDataFrame(rows, "rid long, x double, y double").select(
        "rid",
        F.format_string(
            "POLYGON ((%.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f))",
            "x", "y", F.col("x") + 100.0, "y", F.col("x") + 100.0,
            F.col("y") + 100.0, "x", F.col("y") + 100.0, "x", "y",
        ).alias("geometry"),
    )
    prepared = prepare_regions(rects, res=10)
    r = auto_res(prepared)
    assert 100.0 <= cells.cell_size(r) * 2 and cells.cell_size(r) <= 400.0
    # same join result at auto res as at the default
    pts = spark.createDataFrame(
        [(str(i), float(i * 53 % 2000), float(i * 29 % 2000)) for i in range(500)],
        "media_ref string, px double, py double",
    ).select(
        "media_ref",
        F.col("px").alias("minx"), F.col("py").alias("miny"),
        F.col("px").alias("maxx"), F.col("py").alias("maxy"),
    )
    def pairs(res):
        j = spatial_join_tiles_regions(
            pts, prepare_regions(rects, res=res), res=res, how="inner",
            on_years=False, clip=False, broadcast_regions=True,
        )
        return {(r0["media_ref"], r0["rid"]) for r0 in j.select("media_ref", "rid").collect()}
    assert pairs(r) == pairs(10)
    # degenerate dim (all empty) falls back to the default
    empty = prepare_regions(
        spark.createDataFrame([(1, "POLYGON EMPTY")], "rid long, geometry string"), res=10
    )
    from georip_spark.operators.joins import DEFAULT_RES
    assert auto_res(empty) == DEFAULT_RES


def test_fan_out_launches_no_job(spark, tmp_path):
    """The under-parallel guard of the kNN and spatial-join probes reads
    a scan's split count, which only plans, and leaves an input with a
    shuffle below it as its producer partitioned it: reading that count
    would run the shuffle's map stage while planning."""
    from pyspark.sql import functions as F

    from georip_spark.operators.joins import _fan_out

    path = str(tmp_path / "pts.parquet")
    spark.createDataFrame(_pts(50, salt=3), "event_id long, cx double, cy double") \
        .coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path).filter(F.col("event_id") % 2 == 0)
    shuffled = scan.groupBy("event_id").agg(F.first("cx").alias("cx"))
    sc = spark.sparkContext
    sc.setJobGroup("fan-out", "fan-out")
    try:
        fanned, kept = _fan_out(scan), _fan_out(shuffled)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("fan-out")) == 0
    assert fanned.rdd.getNumPartitions() == 4 * sc.defaultParallelism
    assert kept is shuffled
