"""End-to-end parity: engine docs_out vs the pandas oracle.

The correctness invariant (BASELINE.json input_hint): per-row
span-sequence equality on (kind, text, media_ref, order).
"""

import itertools

import pandas as pd
import pytest
from pyspark.sql import functions as F

from georip_spark import synth
from georip_spark.oracle import pandas_ref
from georip_spark.pipeline import build_dataset

N_DOCS = 12


@pytest.fixture(scope="module")
def tiny(spark):
    rasters = synth.synth_rasters(spark, N_DOCS).cache()
    regions = synth.synth_regions(spark, rasters, polys_per_doc=4).cache()
    return rasters, regions


@pytest.fixture(scope="module")
def engine_out(spark, tiny):
    rasters, regions = tiny
    return build_dataset(rasters, regions)


@pytest.fixture(scope="module")
def oracle_out(tiny):
    rasters, regions = tiny
    rast_pd = rasters.toPandas()  # Arrow path yields dicts for structs
    reg_pd = regions.toPandas()
    tiles = pandas_ref.tile_grid_pd(rast_pd)
    labels = pandas_ref.build_labels_pd(tiles, reg_pd)
    docs = pandas_ref.assemble_docs_pd(tiles, labels)
    return tiles, labels, docs


def spans_from_engine(docs_out_df):
    rows = docs_out_df.collect()
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in rows
    }


def test_tile_grid_parity(engine_out, oracle_out):
    got = (
        engine_out["tiles"]
        .select("doc_id", "media_ref", "ordinal", "minx", "miny", "maxx", "maxy")
        .toPandas()
        .sort_values(["doc_id", "ordinal"])
        .reset_index(drop=True)
    )
    exp = (
        oracle_out[0][["doc_id", "media_ref", "ordinal", "minx", "miny", "maxx", "maxy"]]
        .sort_values(["doc_id", "ordinal"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, atol=1e-9)


def test_span_sequence_equality(engine_out, oracle_out):
    got = spans_from_engine(engine_out["docs_out"])
    exp = oracle_out[2]
    assert set(got) == set(exp), "doc_id sets differ"
    for doc_id in sorted(exp):
        assert got[doc_id] == exp[doc_id], (
            f"span sequence mismatch for {doc_id}:\n"
            f"engine={got[doc_id][:6]}...\noracle={exp[doc_id][:6]}..."
        )


def test_some_labels_produced(engine_out):
    n = engine_out["labels"].count()
    assert n > 0, "pipeline produced no labels — fixture degenerate"


def test_offsets_contiguous(engine_out):
    bad = (
        engine_out["docs_out"]
        .select(
            F.exists(
                F.transform(
                    "spans", lambda s, i: s["offset"] != i.cast("int")
                ),
                lambda x: x,
            ).alias("bad")
        )
        .filter("bad")
        .count()
    )
    assert bad == 0


def test_parallelism_invariance(spark, tiny, engine_out):
    """Same result at 1 shuffle partition vs 8 (order invariant)."""
    rasters, regions = tiny
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        again = build_dataset(rasters, regions)
        a = spans_from_engine(again["docs_out"])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    b = spans_from_engine(engine_out["docs_out"])
    assert a == b


def test_salted_join_same_result(spark, tiny, engine_out):
    rasters, regions = tiny
    salted = build_dataset(rasters, regions, salt=4)
    assert spans_from_engine(salted["docs_out"]) == spans_from_engine(
        engine_out["docs_out"]
    )


def test_auto_salted_join_same_result(spark, tiny, engine_out):
    """salt="auto" (histogram-driven per-key salting) must be a pure
    execution-strategy change: identical spans, whichever keys it
    decides to salt (on the tiny fixture the hot-key floor usually
    means none — the hot branch is test_auto_salt_hot_key_parity)."""
    rasters, regions = tiny
    auto = build_dataset(
        rasters, regions, salt="auto", broadcast_regions=False
    )
    assert spans_from_engine(auto["docs_out"]) == spans_from_engine(
        engine_out["docs_out"]
    )


def test_auto_salt_hot_key_parity(spark):
    """Force the auto-salt hot branch (one cell owning every build
    row, count over the 64-row floor) and check pair-level parity
    with the unsalted join."""
    from pyspark.sql import functions as F
    from georip_spark.operators.joins import (
        prepare_regions, spatial_join_tiles_regions,
    )

    probe = spark.range(500).select(
        F.col("id").cast("string").alias("media_ref"),
        (F.pmod(F.col("id") * 7919, 900) + 10.0).alias("minx"),
        (F.pmod(F.col("id") * 104729, 900) + 10.0).alias("miny"),
    ).withColumn("maxx", F.col("minx") + 2.0).withColumn("maxy", F.col("miny") + 2.0)
    build = spark.range(80).select(
        F.col("id").alias("poly_id"),
        (F.pmod(F.col("id") * 613, 800) + 5.0).alias("gx"),
        (F.pmod(F.col("id") * 389, 800) + 5.0).alias("gy"),
    ).select(
        "poly_id",
        F.format_string(
            "POLYGON ((%.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f))",
            F.col("gx"), F.col("gy"), F.col("gx") + 40.0, F.col("gy"),
            F.col("gx") + 40.0, F.col("gy") + 40.0, F.col("gx"), F.col("gy") + 40.0,
            F.col("gx"), F.col("gy"),
        ).alias("geometry"),
    )
    prepared = prepare_regions(build, res=10)

    def pairs(salt):
        j = spatial_join_tiles_regions(
            probe, prepared, res=10, how="inner", on_years=False,
            clip=True, refine=False, salt=salt,
        )
        return sorted(
            (r["media_ref"], r["poly_id"], r["clipped"]) for r in j.collect()
        )

    assert pairs("auto") == pairs(None)


def test_spatial_join_rejects_other_how():
    """Only the inner join is implemented; the outer, semi and anti
    modes had no caller and fail loudly instead of silently joining."""
    from georip_spark.operators.joins import spatial_join_tiles_regions

    for how in ("left", "left_semi", "left_anti"):
        with pytest.raises(ValueError, match="how must be 'inner'"):
            spatial_join_tiles_regions(None, None, how=how)


def test_broadcast_join_same_result(spark, tiny, engine_out):
    rasters, regions = tiny
    bc = build_dataset(rasters, regions, broadcast_regions=True)
    assert spans_from_engine(bc["docs_out"]) == spans_from_engine(
        engine_out["docs_out"]
    )


def test_regions_prepared_geom_id_stable(spark, tiny, engine_out):
    """The class pre-filter keeps the region columns as they are, so
    the pipeline's geom_id is prepare_regions' geom_id for the same
    rows."""
    from georip_spark.operators.joins import prepare_regions

    _, regions = tiny

    def ids(prep):
        return sorted(tuple(r) for r in prep.select("geometry", "geom_id").collect())

    kept = prepare_regions(regions).filter(F.col("class_name") == "Treatment")
    got = ids(engine_out["regions_prepared"])
    assert got and got == ids(kept)


def test_from_docs_parity(spark, tiny, engine_out):
    """Contract input path: driving the pipeline FROM the docs table
    (posexplode media spans -> parse windows -> rebuild footprints)
    yields byte-identical span sequences to the raster-driven path,
    and both emit the output contract's schema (schema.DOCS)."""
    from georip_spark import schema
    from georip_spark.pipeline import from_docs

    rasters, regions = tiny
    docs = synth.synth_docs(spark, rasters)
    via_docs = from_docs(docs, rasters, regions)
    assert spans_from_engine(via_docs["docs_out"]) == spans_from_engine(
        engine_out["docs_out"]
    )
    for out in (engine_out, via_docs):
        assert out["docs_out"].schema.simpleString() == schema.DOCS.simpleString()


def test_auto_res_same_result(spark, tiny, engine_out):
    """res="auto" (data-driven grid resolution, joins.auto_res) must
    not change the output: cells only generate join candidates — the
    clip kernel decides membership — so the span sequences are
    res-invariant while the candidate fan-out scales with the data."""
    from georip_spark.operators.joins import auto_res, prepare_regions

    rasters, regions = tiny
    resolved = auto_res(prepare_regions(regions))
    assert 4 <= resolved <= 18
    auto = build_dataset(rasters, regions, res="auto")
    assert spans_from_engine(auto["docs_out"]) == spans_from_engine(
        engine_out["docs_out"]
    )
    # the synth fixture resolves auto to DEFAULT_RES (the constant was
    # tuned on it) — force a genuinely different grid to prove the
    # res-invariance claim auto_res relies on
    coarser = build_dataset(rasters, regions, res=resolved - 3)
    assert spans_from_engine(coarser["docs_out"]) == spans_from_engine(
        engine_out["docs_out"]
    )


def test_tiles_from_docs_respects_doc_table(spark, tiny):
    """The docs table is authoritative: a media span removed upstream
    must NOT be re-derived from the raster grid."""
    from georip_spark.pipeline import tiles_from_docs

    rasters, _ = tiny
    docs = synth.synth_docs(spark, rasters)
    pruned = docs.select(
        "doc_id", F.expr("slice(spans, 1, greatest(size(spans) - 1, 1))").alias("spans")
    )
    n_full = tiles_from_docs(docs, rasters).count()
    n_pruned = tiles_from_docs(pruned, rasters).count()
    assert n_pruned < n_full


_JOB_GROUPS = itertools.count()


def _plan_jobs(spark, plan):
    """(plan(), the number of Spark jobs launched while it ran)."""
    sc = spark.sparkContext
    # a fresh group per call: an id() of a freed callable is reused
    group = f"plan-jobs-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = plan()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def stored(spark, tiny, tmp_path_factory):
    """The tiny inputs stored to parquet and read back, as a user's
    tables arrive (the reads' own schema jobs run here)."""
    rasters, regions = tiny
    root = tmp_path_factory.mktemp("stored")
    tables = {
        "rasters": rasters, "regions": regions,
        "docs": synth.synth_docs(spark, rasters),
    }
    for name, df in tables.items():
        df.write.parquet(str(root / name))
    return {name: spark.read.parquet(str(root / name)) for name in tables}


def test_auto_salt_reads_histogram_once(spark, stored):
    """salt="auto" reads the build side's join-key histogram with ONE
    dim-side aggregate, so the dim's WKT stats parse below it runs
    once: under AQE that aggregate is at most 4 jobs on top of the
    plain shuffle plan's own. Reading the total and the hot keys as
    two aggregates took 7."""
    def plain():
        return build_dataset(
            stored["rasters"], stored["regions"], broadcast_regions=False
        )

    def auto():
        return build_dataset(
            stored["rasters"], stored["regions"], salt="auto",
            broadcast_regions=False,
        )

    _, base = _plan_jobs(spark, plain)
    _, jobs = _plan_jobs(spark, auto)
    assert jobs - base <= 4


class TestZeroJobPlanning:
    """Planning an entry point launches no fact-side job, and with
    broadcast_regions=None one dim-side job, the region count (two
    jobs under AQE: its shuffle map stage and the result); the doc
    partitioning is set once, with an explicit count, and
    assemble_docs adds no doc_id exchange."""

    def test_build_dataset(self, spark, stored, engine_out):
        out, jobs = _plan_jobs(
            spark, lambda: build_dataset(stored["rasters"], stored["regions"])
        )
        assert jobs <= 2
        docs = out["docs_out"]
        assert spans_from_engine(docs) == spans_from_engine(engine_out["docs_out"])
        plan = docs._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        plan = plan.split("== Initial Plan ==")[0]
        assert "RoundRobinPartitioning" not in plan
        doc_exchanges = [
            line for line in plan.splitlines()
            if "Exchange hashpartitioning(doc_id" in line
        ]
        # one per branch of assemble_docs (media, labels), both the
        # explicit doc_partitioned shuffle of the raster rows
        assert len(doc_exchanges) == 2
        assert all("REPARTITION_BY_NUM" in line for line in doc_exchanges)

    def test_from_docs(self, spark, stored, engine_out):
        from georip_spark.pipeline import from_docs

        out, jobs = _plan_jobs(
            spark,
            lambda: from_docs(stored["docs"], stored["rasters"], stored["regions"]),
        )
        assert jobs <= 2
        assert spans_from_engine(out["docs_out"]) == spans_from_engine(
            engine_out["docs_out"]
        )


    @pytest.mark.parametrize("entry,bcast", [
        ("build_dataset", True), ("from_docs", False),
    ])
    def test_no_job_given_the_regime(self, spark, stored, engine_out, entry, bcast):
        """Given broadcast_regions, planning launches no Spark job."""
        from georip_spark.pipeline import from_docs

        def plan():
            if entry == "from_docs":
                return from_docs(
                    stored["docs"], stored["rasters"], stored["regions"],
                    broadcast_regions=bcast,
                )
            return build_dataset(
                stored["rasters"], stored["regions"], broadcast_regions=bcast
            )

        out, jobs = _plan_jobs(spark, plan)
        assert jobs == 0
        assert spans_from_engine(out["docs_out"]) == spans_from_engine(
            engine_out["docs_out"]
        )

    def test_build_labels_no_job(self, spark, stored):
        """build_labels plans its clip without probing the dim."""
        from georip_spark.operators.joins import prepare_regions
        from georip_spark.operators.tiling import tile_grid
        from georip_spark.pipeline import build_labels, class_map

        regions = stored["regions"]
        labels, jobs = _plan_jobs(spark, lambda: build_labels(
            tile_grid(stored["rasters"]), prepare_regions(regions),
            class_map(regions),
        ))
        assert jobs == 0
        assert labels.count() > 0


class TestRectFastPath:
    """Round-4 JVM fast path for rectangle clip+normalize: must be
    bit-identical to the Arrow kernel, tests/kernel_oracle.py (the e2e
    oracle tests above already run the default/fast configuration;
    these pin fast == kernel row-for-row and the detection
    predicate)."""

    def test_fast_equals_kernel_exactly(self, spark, tiny, engine_out):
        from kernel_oracle import kernel_labels

        from georip_spark.pipeline import class_map
        from georip_spark.operators.joins import prepare_regions

        rasters, regions = tiny
        slow = kernel_labels(
            engine_out["tiles"], prepare_regions(regions), class_map(regions)
        )
        fast_rows = sorted(
            tuple(r) for r in
            engine_out["labels"].select("media_ref", "label").collect()
        )
        slow_rows = sorted(
            tuple(r) for r in slow.select("media_ref", "label").collect()
        )
        assert fast_rows == slow_rows and len(fast_rows) > 0

    def test_rect_detection(self, spark):
        from georip_spark.operators.jvm_wkt import attach_stats

        rows = [
            # canonical BL-start CCW rect -> fast-path eligible
            ("POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))", True),
            # CW rect (reversed) -> kernel path
            ("POLYGON ((0 0, 0 3, 4 3, 4 0, 0 0))", False),
            # BR-start CCW rect -> kernel path (non-canonical start)
            ("POLYGON ((4 0, 4 3, 0 3, 0 0, 4 0))", False),
            # triangle -> kernel
            ("POLYGON ((0 0, 4 0, 0 3, 0 0))", False),
            # degenerate (zero height) -> kernel
            ("POLYGON ((0 0, 4 0, 4 0, 0 0, 0 0))", False),
            # multipolygon of rects -> kernel
            ("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((2 0, 3 0, 3 1, 2 1, 2 0)))", False),
        ]
        df = spark.createDataFrame([(w,) for w, _ in rows], "geometry string")
        got = [r["is_rect_blccw"] for r in attach_stats(df).collect()]
        assert got == [e for _, e in rows]

    def test_round6_even_matches_numpy(self, spark):
        import numpy as np

        from georip_spark.operators.jvm_clip import round6_even

        rng = np.random.default_rng(3)
        vals = np.concatenate([
            rng.random(5000),
            np.round(rng.random(500), 7),     # exact 5e-7 ties
            np.arange(0, 500) / 1000000.0,
        ])
        df = spark.createDataFrame([(float(v),) for v in vals], "x double")
        got = [r["r"] for r in
               df.select(round6_even(F.col("x")).alias("r")).collect()]
        want = np.round(vals, 6)
        assert all(g == w for g, w in zip(got, want))
