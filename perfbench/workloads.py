"""The workloads: stored inputs, the timed action, the traced run.

Both workloads run the docs pipeline over the same generated tables
(``georip_spark.synth`` with ``synth.SEED`` set from the command line),
written to parquet once per set-up and read back for every action, so
the engine only ever sees stored tables. They differ in the entry point
and in the join regime:

* ``raster_bcast``: ``build_dataset(rasters, regions)`` with default
  arguments: tile_grid fan-out, broadcast hash probe, JVM clip,
  zero-exchange assemble;
* ``docs_shuffle``: ``from_docs(docs, rasters, regions,
  broadcast_regions=False)``: tiles rebuilt from the contract docs
  table, probe and build sides exchanged, shuffle-hash join.

The traced run of ``raster_bcast`` also runs the lineage layer (the
checkpointed pipeline cold, then resumed after losing LOST of
LINEAGE_BUCKETS buckets in both stages), and that of ``docs_shuffle``
the kNN layer (tile centroids against valid-region centroids), so
every layer is measured although neither has a workload of its own.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import check

N_DOCS = 300  # docs per stored table: ~25k output spans
POLYS_PER_DOC = 3
LINEAGE_BUCKETS = 16
LOST = (0, 4, 8, 12)  # buckets dropped from both stages before the resume
KNN_K = 3


def du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


class Workload:
    """One workload bound to the inputs stored under ``root``.

    ``action()`` is the timed unit of work: one call into the public
    entry point, ending in the single collect of ``check.docs_summary``.
    It returns that summary."""

    name = ""
    parent = ""  # the entry point the traced layer calls stand in for
    needs_docs = False

    def __init__(self, spark, root: str):
        self.spark, self.root = spark, root

    def read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.root, name))

    def generate(self, seed: int) -> None:
        """Generate and store this workload's inputs."""
        from georip_spark import synth

        synth.SEED = seed
        synth.synth_rasters(self.spark, N_DOCS).write.parquet(
            os.path.join(self.root, "rasters")
        )
        rasters = self.read("rasters")
        synth.synth_regions(self.spark, rasters, polys_per_doc=POLYS_PER_DOC).write.parquet(
            os.path.join(self.root, "regions")
        )
        if self.needs_docs:
            synth.synth_docs(self.spark, rasters).write.parquet(
                os.path.join(self.root, "docs")
            )

    def prepare(self) -> None:
        self.sample = check.sample_keys(self.read("rasters"), "doc_id")

    def action(self) -> dict:
        return check.docs_summary(self.entry()["docs_out"], self.sample)

    def expected(self, cross: bool) -> dict:
        """The pandas oracle's spans for the sample, and the digest the
        whole docs table must have: with ``cross``, that of a second
        entry point over the same inputs where the workload has one,
        else None (the first action's)."""
        return {
            "sample": check.docs_oracle(self.read("rasters"), self.read("regions"), self.sample),
            "digest": self.reference_digest() if cross else None,
        }

    def reference_digest(self):
        return None


class RasterBcast(Workload):
    name = "raster_bcast"
    parent = "pipeline.build_dataset"

    def entry(self):
        from georip_spark.pipeline import build_dataset

        return build_dataset(self.read("rasters"), self.read("regions"))

    def trace(self, tr) -> None:
        from georip_spark.pipeline import PIPELINE_RES_BROADCAST

        rasters = self.read("rasters")
        with tr.span("pipeline.plan", self.parent):
            self.entry()
        _trace_layers(
            tr, self.parent, self.sample, self.read("regions"), res=PIPELINE_RES_BROADCAST,
            bcast=True,
            tiles_span="tiling.tile_grid", tiles_fn=lambda: _keyed_tile_grid(rasters),
            derive=True,
        )
        _trace_lineage(tr, self.sample, rasters, self.read("regions"), self.root)


class DocsShuffle(Workload):
    name = "docs_shuffle"
    parent = "pipeline.from_docs"
    needs_docs = True

    def entry(self):
        from georip_spark.pipeline import from_docs

        return from_docs(
            self.read("docs"), self.read("rasters"), self.read("regions"),
            broadcast_regions=False,
        )

    def reference_digest(self):
        """The same docs table through raster_bcast's entry point. Taken
        in the traced run only: one more cold build_dataset action
        (~6 s) in every timed run would not fit the run budget."""
        from georip_spark.pipeline import build_dataset

        out = build_dataset(self.read("rasters"), self.read("regions"))
        return check.docs_summary(out["docs_out"], self.sample)["digest"]

    def trace(self, tr) -> None:
        from georip_spark.pipeline import PIPELINE_RES_SHUFFLE, tiles_from_docs

        docs, rasters = self.read("docs"), self.read("rasters")
        with tr.span("pipeline.plan", self.parent):
            self.entry()
        _trace_layers(
            tr, self.parent, self.sample, self.read("regions"), res=PIPELINE_RES_SHUFFLE,
            bcast=False,
            tiles_span="pipeline.tiles_from_docs",
            tiles_fn=lambda: tiles_from_docs(docs, rasters), derive=False, knn=True,
        )


def _keyed_tile_grid(rasters):
    """tile_grid called the way build_dataset calls it on rasters that
    already carry the (region, start_year, end_year) keys."""
    from georip_spark.operators.tiling import tile_grid

    keyed = rasters.repartition(F.col("doc_id"))
    return tile_grid(keyed, keep=("region", "start_year", "end_year"))


# dim columns build_labels sheds before its join (all clip paths are JVM)
_DEAD = ("geometry", "area", "is_empty", "geom_id", "is_valid", "class_name")


def _trace_layers(tr, parent, sample, regions, res, bcast, tiles_span, tiles_fn, derive,
                  knn=False):
    """tile -> prepare -> join -> build_labels -> assemble, each call's
    output materialized and fed to the next, with the arguments
    build_dataset / from_docs pass; then, with ``knn``, the kNN layer
    over the same tiles and prepared regions."""
    from georip_spark.geo.cells import cell_size
    from georip_spark.operators.joins import prepare_regions, spatial_join_tiles_regions
    from georip_spark.pipeline import assemble_docs, build_labels, class_map

    with tr.span(tiles_span, parent) as c:
        tiles = tiles_fn().cache()
        c["tiles"] = tiles.count()
    classes = class_map(regions)
    with tr.span("joins.prepare_regions", parent) as c:
        kept = regions.join(
            F.broadcast(classes.filter(F.col("class_id") >= 0)), "class_name", "inner"
        )
        prepared = prepare_regions(kept, res=res).cache()
        r = prepared.agg(F.count("*"), F.sum(F.size("cover"))).collect()[0]
        c["regions_kept"], c["cover_cells"] = int(r[0]), int(r[1] or 0)
    with tr.span("joins.spatial_join", parent) as c:
        valid = prepared.filter(F.col("is_valid").isNull() | F.col("is_valid"))
        c["candidate_pairs"] = spatial_join_tiles_regions(
            tiles, valid, res=res, how="inner", clip=False, broadcast_regions=bcast,
            refine=False, keep_region_bbox=True, exclude_carry=_DEAD,
        ).count()
    with tr.span("pipeline.build_labels", parent) as c:
        labels = build_labels(
            tiles, prepared, classes, res=res, broadcast_regions=bcast,
            derive_tile_refs=derive,
        ).cache()
        c["labels"] = labels.count()
    with tr.span("pipeline.assemble_docs", parent) as c:
        c.update(check.docs_summary(assemble_docs(tiles, labels), sample))

    # probe rows: each tile repeated once per grid cell its bbox covers
    s = float(cell_size(res))

    def cells(lo, hi):
        return F.floor(F.col(hi) / s) - F.floor(F.col(lo) / s) + 1

    tr.counts["probe_rows"] = int(
        tiles.agg(F.sum(cells("minx", "maxx") * cells("miny", "maxy"))).collect()[0][0] or 0
    )
    if knn:
        _trace_knn(tr, tiles, valid)
    for df in (tiles, prepared, labels):
        df.unpersist()


def _centre(lo: str, hi: str):
    return (F.col(lo) + F.col(hi)) / 2


def _trace_knn(tr, tiles, valid_regions) -> None:
    """knn_join(tile centroids, valid-region centroids, k) with default
    arguments, after one untimed call that pays its JIT warm-up; the
    traced call's sample is checked against brute force."""
    from georip_spark.operators.joins import knn_join

    left = tiles.select(
        "media_ref", _centre("minx", "maxx").alias("cx"), _centre("miny", "maxy").alias("cy")
    )
    right = valid_regions.select(
        "geom_id", _centre("minx", "maxx").alias("fx"), _centre("miny", "maxy").alias("fy")
    )
    sample = check.sample_keys(left, "media_ref", check.KNN_SAMPLE)
    check.knn_summary(knn_join(left, right, k=KNN_K), sample)
    with tr.span("joins.knn_join", "joins.knn_join") as c:
        c.update(check.knn_summary(knn_join(left, right, k=KNN_K), sample))
    c["left_points"] = left.count()
    want = check.knn_oracle(
        left.filter(F.col("media_ref").isin(sample)).toPandas(), right.toPandas(), KNN_K
    )
    tr.checks.append(
        ("joins.knn_join", c["pairs"] == KNN_K * c["left_points"] and c["sample"] == want)
    )


def _trace_lineage(tr, sample, rasters, regions, root: str) -> None:
    """The checkpointed pipeline: the stages of run_pipeline_with_lineage
    called one by one into a fresh StageStore (cold, after one untimed
    run into another store), then LOST buckets dropped from both stages
    and run_pipeline_with_lineage resumed. Both read-backs are checked
    like every docs table."""
    from georip_spark.lineage import StageStore, run_pipeline_with_lineage
    from georip_spark.operators.joins import prepare_regions
    from georip_spark.operators.tiling import tile_grid
    from georip_spark.pipeline import assemble_docs, build_labels, class_map

    spark, n = rasters.sparkSession, LINEAGE_BUCKETS
    run_pipeline_with_lineage(spark, rasters, regions, StageStore(os.path.join(root, "warm")), n)
    store = StageStore(os.path.join(root, "lineage"))
    parent = "lineage.run_pipeline_with_lineage"
    with tr.span("lineage.tiles_stage", parent):
        tiles = store.run_stage(tile_grid(rasters), "tiles", "doc_id", n)
    with tr.span("lineage.docs_stage", parent):
        labels = build_labels(tiles, prepare_regions(regions), class_map(regions))
        docs = store.run_stage(assemble_docs(tiles, labels), "docs_out", "doc_id", n)
    with tr.span("lineage.read_back", parent) as c:
        c.update(check.docs_summary(docs, sample))
    tr.counts["lineage_written_mb"] = du_mb(store.root)
    for b in LOST:
        store.drop_bucket("tiles", b)
        store.drop_bucket("docs_out", b)
    with tr.span("lineage.resume", parent) as c:
        c.update(check.docs_summary(run_pipeline_with_lineage(spark, rasters, regions, store, n),
                                    sample))


WORKLOADS = {w.name: w for w in (RasterBcast, DocsShuffle)}
