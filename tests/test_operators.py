"""Spark tests: dissolve, lineage/resume, sources, raster UDF ops."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def toy_regions(spark):
    rows = [
        # component 1: A overlaps B; C within buffer(8) of B
        ("r1", 2019, 2020, "Treatment", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
        ("r1", 2019, 2020, "Treatment", "POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))"),
        ("r1", 2019, 2020, "Background", "POLYGON ((20 5, 30 5, 30 15, 20 15, 20 5))"),
        # isolated far polygon
        ("r2", 2019, 2020, "Treatment", "POLYGON ((500 500, 510 500, 510 510, 500 510, 500 500))"),
        # empty geometry: excluded from components
        ("r2", 2019, 2020, "Treatment", "POLYGON EMPTY"),
    ]
    return spark.createDataFrame(
        rows, "region string, start_year int, end_year int, class_name string, geometry string"
    )


class TestDissolve:
    def test_components(self, spark, toy_regions):
        from georip_spark.operators.dissolve import dissolve

        out = dissolve(toy_regions, buffer=8.0).collect()
        sizes = sorted(r["n_members"] for r in out)
        # B at x∈[5,15] and C at x∈[20,30]: gap 5 < 2*8 buffered bboxes
        # overlap → one 3-member component + the far singleton
        assert sizes == [1, 3]
        assert all(r["exact_boundary"] for r in out)
        big = [r for r in out if r["n_members"] == 3][0]
        assert big["geometry"].startswith("MULTIPOLYGON")
        assert big["minx"] == 0.0 and big["maxx"] == 30.0

    def test_long_chain_converges(self, spark):
        """Diameter-60 pairwise-overlap chain: plain min-propagation
        needs 60 rounds; pointer-jumping must converge well inside
        max_iter=20 and label everything as one component."""
        from georip_spark.operators.dissolve import connected_components

        n = 61
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "src long, dst long"
        )
        vertices = spark.range(n).withColumnRenamed("id", "geom_id")
        out = connected_components(pairs, vertices, max_iter=20).collect()
        assert len(out) == n
        assert {r["component"] for r in out} == {0}

    def test_adversarial_path_graph_10k(self, spark):
        """Pointer-jumping depth at adversarial scale: a 10^4-vertex
        path graph (the duplicate-chain worst case for near-dup CC).
        Plain propagation would need 10^4 rounds; pointer jumping must
        converge within max_iter=20 (~log2 diameter), and the
        per-round localCheckpoint must keep the logical plan bounded —
        without it the plan doubles every round and the 14th round
        would take minutes of analysis alone."""
        from georip_spark.operators.dissolve import connected_components

        n = 10_000
        pairs = spark.range(n - 1).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )
        vertices = spark.range(n).withColumnRenamed("id", "geom_id")
        out = connected_components(pairs, vertices, max_iter=20)
        # plan bounded: the checkpointed lineage must not have
        # accumulated 14 rounds of join trees
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("\n") < 80, f"plan grew unbounded:\n{plan[:2000]}"
        rows = out.collect()
        assert len(rows) == n
        assert {r["component"] for r in rows} == {0}

    def test_nonconvergence_raises(self, spark):
        """max_iter too small for the diameter → RuntimeError, never a
        silent partial labeling (a wrong keeper corrupts every
        downstream dedup drop)."""
        from georip_spark.operators.dissolve import connected_components

        n = 80
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "src long, dst long"
        )
        vertices = spark.range(n).withColumnRenamed("id", "geom_id")
        with pytest.raises(RuntimeError, match="converge"):
            connected_components(pairs, vertices, max_iter=2)

    def test_no_overlaps(self, spark):
        from georip_spark.operators.dissolve import dissolve

        rows = [
            ("a", 1, 2, "T", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"),
            ("a", 1, 2, "T", "POLYGON ((100 0, 101 0, 101 1, 100 1, 100 0))"),
        ]
        df = spark.createDataFrame(
            rows, "region string, start_year int, end_year int, class_name string, geometry string"
        )
        out = dissolve(df, buffer=1.0).collect()
        assert sorted(r["n_members"] for r in out) == [1, 1]


def _spans(docs):
    return {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in docs.collect()}


class TestLineage:
    def test_resume_recomputes_only_missing(self, spark, tmp_path):
        """Cold and resumed, the checkpointed pipeline emits exactly
        build_dataset's docs_out, span for span."""
        from georip_spark import synth
        from georip_spark.lineage import StageStore, run_pipeline_with_lineage
        from georip_spark.pipeline import build_dataset

        rasters = synth.synth_rasters(spark, 8)
        regions = synth.synth_regions(spark, rasters, 2)
        store = StageStore(str(tmp_path / "stages"))
        full = run_pipeline_with_lineage(spark, rasters, regions, store, n_buckets=4)
        baseline = _spans(full)
        assert baseline == _spans(build_dataset(rasters, regions)["docs_out"])
        assert store.metrics("docs_out")["buckets_done"] == 4

        # crash simulation: drop one bucket from each stage, resume
        store.drop_bucket("tiles", 1)
        store.drop_bucket("docs_out", 2)
        resumed = run_pipeline_with_lineage(spark, rasters, regions, store, n_buckets=4)
        assert _spans(resumed) == baseline
        assert store.metrics("docs_out")["buckets_done"] == 4

    @pytest.mark.parametrize("lost", [0, 3])
    def test_resume_over_tiles_stored_without_keys(self, spark, tmp_path, lost):
        """Buckets of a tiles stage written without the join keys (plain
        tile_grid output) mix with resumed buckets that carry them; the
        resumed docs still equal build_dataset's. Which file's schema
        the read-back takes follows file order, so both the first and
        the last bucket are lost once."""
        from georip_spark import synth
        from georip_spark.lineage import StageStore, run_pipeline_with_lineage
        from georip_spark.operators.tiling import tile_grid
        from georip_spark.pipeline import build_dataset

        rasters = synth.synth_rasters(spark, 8)
        regions = synth.synth_regions(spark, rasters, 2)
        store = StageStore(str(tmp_path / "stages"))
        store.run_stage(tile_grid(rasters), "tiles", "doc_id", n_buckets=4)
        store.drop_bucket("tiles", lost)
        resumed = run_pipeline_with_lineage(spark, rasters, regions, store, n_buckets=4)
        assert _spans(resumed) == _spans(build_dataset(rasters, regions)["docs_out"])

    def test_complete_stage_not_recomputed(self, spark, tmp_path):
        from georip_spark.lineage import StageStore

        store = StageStore(str(tmp_path / "s2"))
        df = spark.range(100).withColumn("key", F.col("id").cast("string"))
        store.run_stage(df, "st", "key", n_buckets=4)
        m1 = store.manifest("st")
        # rerun: manifest timestamps unchanged → nothing recomputed
        store.run_stage(df, "st", "key", n_buckets=4)
        assert store.manifest("st") == m1

    def test_committed_but_unmanifested_bucket_not_duplicated(self, spark, tmp_path):
        """Crash window: parquet write committed, process died before
        _save_manifest. A blind resume would re-append those rows;
        the reconcile pass must drop the orphan dir first (exactly-once)."""
        import json
        import os

        from georip_spark.lineage import StageStore

        store = StageStore(str(tmp_path / "s3"))
        df = spark.range(100).withColumn("key", F.col("id").cast("string"))
        out1 = store.run_stage(df, "st", "key", n_buckets=4)
        n1 = out1.count()

        # simulate the crash: erase one bucket from the MANIFEST only,
        # leaving its committed parquet dir on disk
        mp = store.manifest_path("st")
        m = json.loads(open(mp).read())
        dropped = next(iter(m["buckets"]))
        del m["buckets"][dropped]
        open(mp, "w").write(json.dumps(m))
        assert os.path.exists(
            os.path.join(store.stage_dir("st"), f"_bucket={dropped}")
        )

        out2 = store.run_stage(df, "st", "key", n_buckets=4)
        assert out2.count() == n1  # no duplicated rows
        assert store.metrics("st")["rows"] == n1

    def test_hive_default_partition_dir_does_not_crash_resume(self, spark, tmp_path):
        """Spark writes `_bucket=__HIVE_DEFAULT_PARTITION__` when the
        bucket key is null; the orphan-reconcile pass must treat the
        unparseable dir as an orphan (drop it), not crash every resume
        with ValueError."""
        import os

        from georip_spark.lineage import StageStore

        store = StageStore(str(tmp_path / "s4"))
        df = spark.range(50).withColumn("key", F.col("id").cast("string"))
        out1 = store.run_stage(df, "st", "key", n_buckets=4)
        n1 = out1.count()
        bad = os.path.join(store.stage_dir("st"), "_bucket=__HIVE_DEFAULT_PARTITION__")
        os.makedirs(bad)
        out2 = store.run_stage(df, "st", "key", n_buckets=4)
        assert out2.count() == n1
        assert not os.path.exists(bad)


class TestSources:
    def test_coco_roundtrip(self, spark, tmp_path):
        from georip_spark.sources.formats import read_coco_json

        coco = {
            "images": [
                {"id": 1, "file_name": "a.png", "width": 100, "height": 80},
                {"id": 2, "file_name": "b.png", "width": 64, "height": 64},
            ],
            "annotations": [
                {"id": 10, "image_id": 1, "category_id": 7, "bbox": [1.0, 2.0, 3.0, 4.0],
                 "segmentation": [[1.0, 2.0, 4.0, 2.0, 4.0, 6.0]]},
                {"id": 11, "image_id": 2, "category_id": 8, "bbox": [0.0, 0.0, 5.0, 5.0],
                 "segmentation": [[0.0, 0.0, 5.0, 0.0, 5.0, 5.0]]},
            ],
            "categories": [
                {"id": 7, "name": "Treatment"},
                {"id": 8, "name": "Water"},
            ],
        }
        import json

        p = tmp_path / "coco.json"
        p.write_text(json.dumps(coco))
        df = read_coco_json(spark, str(p))
        rows = {r["ann_id"]: r for r in df.collect()}
        assert rows[10]["filename"] == "a.png" and rows[10]["class_name"] == "Treatment"
        assert rows[11]["bbox_w"] == 5.0
        filtered = read_coco_json(spark, str(p), classes=["Treatment"])
        assert filtered.count() == 1

    def test_pascal_voc(self, spark, tmp_path):
        from georip_spark.sources.formats import read_pascal_voc, voc_bbox_to_yolo

        xml = """<annotation><filename>img1.png</filename>
        <size><width>200</width><height>100</height></size>
        <object><name>Treatment</name>
          <bndbox><xmin>50</xmin><ymin>20</ymin><xmax>150</xmax><ymax>80</ymax></bndbox>
        </object>
        <object><name>Water</name>
          <bndbox><xmin>0</xmin><ymin>0</ymin><xmax>20</xmax><ymax>10</ymax></bndbox>
        </object></annotation>"""
        (tmp_path / "a.xml").write_text(xml)
        df = read_pascal_voc(spark, str(tmp_path))
        assert df.count() == 2
        yolo = {r["class_name"]: r for r in voc_bbox_to_yolo(df).collect()}
        assert yolo["Treatment"]["cx"] == 0.5  # (50+150)/2 / 200
        assert yolo["Treatment"]["h"] == 0.6

    def test_label_csv(self, spark, tmp_path):
        from georip_spark.sources.formats import read_label_csv

        p = tmp_path / "labels.csv"
        p.write_text(
            "img,cls,class_id,bbox_x\n"
            "a.png,Treatment,0,1.5\n"
            "b.png,Water,not_a_number,2.0\n"
        )
        df = read_label_csv(spark, str(p), column_map={"img": "filename", "cls": "class_name"})
        rows = df.collect()
        assert len(rows) == 1  # invalid class_id row dropped (P6)
        assert rows[0]["filename"] == "a.png" and rows[0]["bbox_x"] == 1.5

    def test_yolo_label_lines(self, spark):
        from georip_spark.sources.formats import yolo_label_lines

        rows = [
            ("a.png", 1, "1 0.5 0.5"),
            ("a.png", 0, "0 0.1 0.2"),
            ("bg.png", -1, None),
            ("mix.png", -1, "-1 0.9 0.9"),  # background row WITH a label string
            ("mix.png", 0, "0 0.3 0.3"),
        ]
        df = spark.createDataFrame(rows, "filename string, class_id int, label string")
        out = {r["filename"]: r["content"] for r in yolo_label_lines(df).collect()}
        assert out["a.png"] == "0 0.1 0.2\n1 0.5 0.5"  # sorted by class_id
        assert out["bg.png"] == ""  # background → empty file
        assert out["mix.png"] == "0 0.3 0.3"  # background line never leaks

    def test_yaml_manifest(self, tmp_path):
        from georip_spark.sources.formats import write_yaml_manifest

        p = tmp_path / "data.yaml"
        write_yaml_manifest(
            str(p), {"Treatment": 0, "Background": -1}, {"train": "tr", "val": "v"}
        )
        text = p.read_text()
        assert "nc: 1" in text and "0: Treatment" in text and "train: tr" in text


class TestRasterUdfs:
    def test_normalize_and_stats(self, spark):
        from georip_spark.operators.rastervec import (
            is_all_nodata,
            normalize_payload,
            payload_stats,
        )

        rows = [
            (1, [0.0, 5.0, 10.0, -9999.0]),
            (2, [-9999.0, -9999.0, -9999.0, -9999.0]),
        ]
        df = spark.createDataFrame(rows, "id int, payload array<float>")
        nd = F.lit(-9999.0)
        out = df.select(
            "id",
            normalize_payload(F.col("payload"), nd).alias("norm"),
            is_all_nodata(F.col("payload"), nd).alias("empty"),
            payload_stats(F.col("payload"), nd)[0].alias("lo"),
        ).collect()
        r1 = [r for r in out if r["id"] == 1][0]
        assert r1["norm"][0] == 0.0 and r1["norm"][2] == 1.0 and r1["norm"][3] is None
        assert r1["norm"][1] == 0.5 and not r1["empty"] and r1["lo"] == 0.0
        r2 = [r for r in out if r["id"] == 2][0]
        assert r2["empty"]

    def test_chip_slice(self, spark):
        from georip_spark.operators.rastervec import slice_chip

        # 4x4 payload 0..15; chip at row=1,col=2, 2x2 → [6,7,10,11]
        df = spark.createDataFrame([(list(range(16)),)], "payload array<int>")
        got = df.select(
            slice_chip(
                F.col("payload"), F.lit(4), F.lit(1), F.lit(2), F.lit(2), F.lit(2)
            ).alias("chip")
        ).first()["chip"]
        assert got == [6, 7, 10, 11]

    def test_rasterize_vectorize_udfs(self, spark):
        from georip_spark.operators.rastervec import rasterize_geometry, vectorize_payload

        df = spark.createDataFrame(
            [("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", 8, 8)],
            "geometry string, w int, h int",
        )
        mask = df.select(
            rasterize_geometry(F.col("geometry"), F.col("w"), F.col("h")).alias("m")
        ).first()["m"]
        assert sum(mask) == 16
        # payload > 0.5 in a 2x2 corner
        payload = [1.0] * 2 + [0.0] * 2 + [1.0] * 2 + [0.0] * 2 + [0.0] * 8
        df2 = spark.createDataFrame([(payload, 4)], "payload array<float>, width int")
        wkt_out = df2.select(
            vectorize_payload(F.col("payload"), F.col("width"), F.lit(0.5)).alias("g")
        ).first()["g"]
        from georip_spark.geo import kernels, wkt as W

        assert kernels.multipolygon_area(W.parse_wkt(wkt_out)) == 4.0

    def test_normalize_pandas_parity(self, spark):
        from georip_spark.operators.rastervec import (
            normalize_payload,
            normalize_payload_pandas,
        )

        rows = [(i, [float(((i * 31 + j * 17) % 50) - 10) if (i + j) % 7 else -9999.0
                     for j in range(20)]) for i in range(30)]
        df = spark.createDataFrame(rows, "id int, payload array<float>")
        nd = F.lit(-9999.0)
        a = df.select("id", normalize_payload(F.col("payload"), nd).alias("n")).collect()
        b = df.select("id", normalize_payload_pandas(F.col("payload"), nd).alias("n")).collect()
        am = {r["id"]: r["n"] for r in a}
        bm = {r["id"]: r["n"] for r in b}
        for k in am:
            assert len(am[k]) == len(bm[k])
            for x, y in zip(am[k], bm[k]):
                assert (x is None) == (y is None)
                if x is not None:
                    assert abs(x - y) < 1e-6
