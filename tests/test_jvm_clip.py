"""General JVM Sutherland–Hodgman clip (operators/jvm_clip.py): must
be bit-identical to the Arrow kernel on arbitrary hole-free
geometries, and must remove ArrowEvalPython from the build_labels
plan whenever no valid region has holes."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from georip_spark.operators import geom_udfs, jvm_clip
from georip_spark.operators.jvm_wkt import attach_stats


def _wkt_ring(pts) -> str:
    ring = np.vstack([pts, pts[:1]])
    return "(" + ", ".join(f"{x} {y}" for x, y in ring) + ")"


def _random_cases(n: int, seed: int):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        kind = i % 5
        a, b = rng.uniform(-50, 50, 2)
        c, d = a + rng.uniform(1, 60), b + rng.uniform(1, 60)
        cx, cy = rng.uniform(a - 20, c + 20), rng.uniform(b - 20, d + 20)
        if kind == 0:  # triangle
            pts = rng.uniform(-30, 30, (3, 2)) + [cx, cy]
            w = "POLYGON (" + _wkt_ring(pts) + ")"
        elif kind == 1:  # convex-ish n-gon
            m = rng.integers(4, 9)
            ang = np.sort(rng.uniform(0, 2 * np.pi, m))
            r = rng.uniform(5, 30, m)
            pts = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
            w = "POLYGON (" + _wkt_ring(pts) + ")"
        elif kind == 2:  # non-convex star
            m = int(rng.integers(5, 8))
            ang = np.linspace(0, 2 * np.pi, m, endpoint=False)
            r = np.where(np.arange(m) % 2 == 0, 30, 8)
            pts = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
            w = "POLYGON (" + _wkt_ring(pts) + ")"
        elif kind == 3:  # multipolygon tri + quad
            p1 = rng.uniform(-20, 20, (3, 2)) + [cx, cy]
            p2 = rng.uniform(-20, 20, (4, 2)) + [cx + 25, cy]
            w = (
                "MULTIPOLYGON ((" + _wkt_ring(p1) + "), ("
                + _wkt_ring(p2) + "))"
            )
        else:  # thin sliver (floor-sensitive)
            t = rng.uniform(0.0001, 0.01)
            pts = np.array(
                [[cx, cy], [cx + 40, cy], [cx + 40, cy + t], [cx, cy + t]]
            )
            w = "POLYGON (" + _wkt_ring(pts) + ")"
        rows.append((w, float(a), float(b), float(c), float(d)))
    return rows


class TestJvmClipParity:
    def test_bit_identical_to_kernel(self, spark):
        rows = _random_cases(800, seed=11)
        df = spark.createDataFrame(
            rows,
            "geometry string, tminx double, tminy double, "
            "tmaxx double, tmaxy double",
        )
        out = attach_stats(df).select(
            geom_udfs.clip_and_normalize(
                F.col("geometry"), F.col("tminx"), F.col("tminy"),
                F.col("tmaxx"), F.col("tmaxy"),
            ).alias("kern"),
            jvm_clip.clip_normalize_coords(
                F.col("shells"), F.col("tminx"), F.col("tminy"),
                F.col("tmaxx"), F.col("tmaxy"),
                # production shape: region bbox gates the inside-tile
                # shortcut arm (attach_stats bounds)
                g_bbox=(F.col("minx"), F.col("miny"),
                        F.col("maxx"), F.col("maxy")),
            ).alias("jvm"),
        ).collect()
        n_nonnull = 0
        for r in out:
            k = None if r["kern"] is None else list(r["kern"])
            j = None if r["jvm"] is None else list(r["jvm"])
            assert k == j  # exact doubles, not approx
            n_nonnull += k is not None
        # the sweep must exercise real clips, not vacuous nulls
        assert n_nonnull > 200

    def test_zero_area_floor_agrees(self, spark):
        # degenerate touch: polygon meets the tile along an edge only
        rows = [
            ("POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))", 4.0, 0.0, 8.0, 3.0),
            # vertex-only touch
            ("POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))", 4.0, 3.0, 8.0, 6.0),
            # fully inside
            ("POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))", 0.0, 0.0, 8.0, 6.0),
        ]
        df = spark.createDataFrame(
            rows,
            "geometry string, tminx double, tminy double, "
            "tmaxx double, tmaxy double",
        )
        got = attach_stats(df).select(
            geom_udfs.clip_and_normalize(
                F.col("geometry"), F.col("tminx"), F.col("tminy"),
                F.col("tmaxx"), F.col("tmaxy"),
            ).alias("kern"),
            jvm_clip.clip_normalize_coords(
                F.col("shells"), F.col("tminx"), F.col("tminy"),
                F.col("tmaxx"), F.col("tmaxy"),
            ).alias("jvm"),
        ).collect()
        assert got[0]["kern"] is None and got[0]["jvm"] is None
        assert got[1]["kern"] is None and got[1]["jvm"] is None
        assert got[2]["kern"] is not None
        assert list(got[2]["kern"]) == list(got[2]["jvm"])


def _random_holed_cases(n: int, seed: int):
    """Polygons/multipolygons WITH holes: shells as convex-ish n-gons,
    1–3 holes placed anywhere in the shell's bbox (some poke outside,
    some straddle the tile edge, some degenerate slivers) — the shapes
    the hole-aware selection key |shell|−Σ|holes| must get right."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        a, b = rng.uniform(-50, 50, 2)
        c, d = a + rng.uniform(5, 60), b + rng.uniform(5, 60)

        def one_poly(cx, cy):
            m = int(rng.integers(5, 9))
            ang = np.sort(rng.uniform(0, 2 * np.pi, m))
            r = rng.uniform(15, 35, m)
            shell = np.column_stack(
                [cx + r * np.cos(ang), cy + r * np.sin(ang)]
            )
            rings = [_wkt_ring(shell)]
            for _ in range(int(rng.integers(1, 4))):
                hx = cx + rng.uniform(-20, 20)
                hy = cy + rng.uniform(-20, 20)
                if rng.uniform() < 0.2:  # degenerate sliver hole
                    t = rng.uniform(1e-4, 1e-2)
                    hole = np.array(
                        [[hx, hy], [hx + 10, hy], [hx + 10, hy + t], [hx, hy + t]]
                    )
                else:
                    hm = int(rng.integers(3, 6))
                    hang = np.sort(rng.uniform(0, 2 * np.pi, hm))
                    hr = rng.uniform(2, 12, hm)
                    hole = np.column_stack(
                        [hx + hr * np.cos(hang), hy + hr * np.sin(hang)]
                    )
                rings.append(_wkt_ring(hole))
            return "(" + ", ".join(rings) + ")"

        cx, cy = rng.uniform(a - 15, c + 15), rng.uniform(b - 15, d + 15)
        if i % 3 == 2:  # multipolygon: one holed part + one plain part
            p2 = rng.uniform(-15, 15, (4, 2)) + [cx + 30, cy]
            w = (
                "MULTIPOLYGON (" + one_poly(cx, cy) + ", (("
                + _wkt_ring(p2).strip("()") + ")))"
            )
        else:
            w = "POLYGON " + one_poly(cx, cy)
        rows.append((w, float(a), float(b), float(c), float(d)))
    return rows


class TestJvmClipHoledParity:
    def test_bit_identical_to_kernel_holed(self, spark):
        from georip_spark.operators import jvm_wkt

        rows = _random_holed_cases(600, seed=23)
        df = spark.createDataFrame(
            rows,
            "geometry string, tminx double, tminy double, "
            "tmaxx double, tmaxy double",
        )
        out = attach_stats(df).select(
            geom_udfs.clip_and_normalize(
                F.col("geometry"), F.col("tminx"), F.col("tminy"),
                F.col("tmaxx"), F.col("tmaxy"),
            ).alias("kern"),
            jvm_clip.clip_normalize_coords_mp(
                jvm_wkt.rings_expr(F.col("geometry")),
                F.col("tminx"), F.col("tminy"),
                F.col("tmaxx"), F.col("tmaxy"),
                g_bbox=(F.col("minx"), F.col("miny"),
                        F.col("maxx"), F.col("maxy")),
            ).alias("jvm"),
            jvm_clip.clip_normalize_coords_mp(
                jvm_wkt.rings_expr(F.col("geometry")),
                F.col("tminx"), F.col("tminy"),
                F.col("tmaxx"), F.col("tmaxy"),
            ).alias("jvm_nobox"),
        ).collect()
        n_nonnull = 0
        for r in out:
            k = None if r["kern"] is None else list(r["kern"])
            assert k == (None if r["jvm"] is None else list(r["jvm"]))
            assert k == (
                None if r["jvm_nobox"] is None else list(r["jvm_nobox"])
            )
            n_nonnull += k is not None
        assert n_nonnull > 150

    def test_hole_dominant_part_selection(self, spark):
        """Two parts: a big shell almost fully eaten by its hole vs a
        smaller solid part — the kernel picks by |shell|−Σ|holes|, so
        the SOLID part must win even though the holed shell is bigger;
        and a negative-key single part must still be emitted (max over
        one candidate)."""
        from georip_spark.operators import jvm_wkt

        rows = [
            # part A: 20×20 shell with 18×18 hole (key=76);
            # part B: 10×10 solid (key=100) → B wins
            ("MULTIPOLYGON (((0 0, 20 0, 20 20, 0 20, 0 0), "
             "(1 1, 19 1, 19 19, 1 19, 1 1)), "
             "((30 0, 40 0, 40 10, 30 10, 30 0)))",
             0.0, 0.0, 50.0, 50.0),
            # single part whose (invalid, shell-exceeding) hole
            # outweighs the clipped shell → NEGATIVE key, still the
            # only candidate → emitted (kernel: max over one element)
            ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
             "(-10 -10, 20 -10, 20 20, -10 20, -10 -10))",
             0.0, 0.0, 50.0, 50.0),
        ]
        df = spark.createDataFrame(
            rows,
            "geometry string, tminx double, tminy double, "
            "tmaxx double, tmaxy double",
        )
        got = attach_stats(df).select(
            geom_udfs.clip_and_normalize(
                F.col("geometry"), F.col("tminx"), F.col("tminy"),
                F.col("tmaxx"), F.col("tmaxy"),
            ).alias("kern"),
            jvm_clip.clip_normalize_coords_mp(
                jvm_wkt.rings_expr(F.col("geometry")),
                F.col("tminx"), F.col("tminy"),
                F.col("tmaxx"), F.col("tmaxy"),
            ).alias("jvm"),
        ).collect()
        for r in got:
            assert r["kern"] is not None
            assert list(r["kern"]) == list(r["jvm"])
        # row 0 emitted part B's shell: all u in [0.6, 0.8]
        us = list(got[0]["jvm"])[0::2]
        assert min(us) >= 0.6 and max(us) <= 0.8


@pytest.fixture(scope="module")
def tiny(spark):
    from georip_spark import synth

    rasters = synth.synth_rasters(spark, 12).cache()
    regions = synth.synth_regions(spark, rasters, polys_per_doc=4).cache()
    return rasters, regions


class TestPlanShape:
    def test_no_arrow_eval_without_holes(self, spark, tiny):
        """The hot build_labels stage must contain NO ArrowEvalPython
        when no valid region has holes — the whole point of the JVM
        clip paths (python-lane bandwidth is the N→4N scaling
        bottleneck, NOTES.md round 4). Since the JVM WKT stats landed
        (jvm_wkt.attach_stats, the dim-prepare default) the count is
        ZERO: no Python anywhere in the plan."""
        from georip_spark.operators.joins import prepare_regions
        from georip_spark.operators.tiling import tile_grid
        from georip_spark.pipeline import build_labels, class_map

        rasters, regions = tiny
        tiles = tile_grid(rasters)
        prep = prepare_regions(regions)
        labels = build_labels(tiles, prep, class_map(regions))
        plan = labels._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 0
        assert "rings#" not in plan  # two-way CASE: no hole-aware arm

    def test_holed_regions_stay_jvm(self, spark):
        """A dim with a rectangle, a triangle and a polygon WITH a hole
        plans all three clip arms in one build_dataset plan — rect
        column math, hole-free S-H, hole-aware S-H
        (clip_normalize_coords_mp) — with NO Arrow node anywhere, and
        every arm matches the Arrow kernel."""
        from kernel_oracle import kernel_labels

        from georip_spark.pipeline import build_dataset

        rasters = spark.createDataFrame(
            [("R1_2019to2020_X", 128, 128, 64, 64,
              {"a": 1.0, "b": 0.0, "c": 0.0, "d": 0.0, "e": -1.0, "f": 128.0})],
            "doc_id string, width int, height int, tile_size int, "
            "stride int, transform map<string,double>",
        )
        geoms = [
            "POLYGON ((5 5, 50 5, 50 30, 5 30, 5 5))",
            "POLYGON ((70 20, 120 35, 90 120, 70 20))",
            "POLYGON ((10 10, 100 10, 100 100, 10 100, 10 10), "
            "(40 40, 60 40, 60 60, 40 60, 40 40))",
        ]
        regions = spark.createDataFrame(
            [("R1", 2019, 2020, "Treatment", g) for g in geoms],
            "region string, start_year int, end_year int, "
            "class_name string, geometry string",
        )
        out = build_dataset(rasters, regions)
        stats = {
            r["geometry"]: (r["is_rect_blccw"], r["has_holes"])
            for r in out["regions_prepared"].collect()
        }
        assert [stats[g] for g in geoms] == [
            (True, False), (False, False), (False, True)
        ]
        labels = out["labels"]
        rows = labels.select("media_ref", "label").collect()
        plan = labels._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan  # holed rows clip JVM-side too
        assert "rings#" in plan  # the hole-aware arm is planned

        # every region clips into some tile, and the result equals the
        # kernel-only labels
        kern = kernel_labels(
            out["tiles"], out["regions_prepared"], out["classes"]
        )
        assert kern.select("geom_id").distinct().count() == len(geoms)
        slow = kern.select("media_ref", "label").collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, slow))
