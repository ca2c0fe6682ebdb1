"""Unit tests for rasterize/vectorize numpy kernels (no Spark)."""

import numpy as np

from georip_spark.geo import kernels, wkt
from georip_spark.operators import rastervec


class TestRasterize:
    def test_full_rect(self):
        mp = wkt.parse_wkt("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))")
        mask = rastervec.rasterize_multipolygon(mp, 8, 8)
        assert mask.sum() == 64

    def test_half_rect(self):
        mp = wkt.parse_wkt("POLYGON ((0 0, 4 0, 4 8, 0 8, 0 0))")
        mask = rastervec.rasterize_multipolygon(mp, 8, 8)
        assert mask.sum() == 32
        assert mask[:, :4].all() and not mask[:, 4:].any()

    def test_hole(self):
        mp = wkt.parse_wkt(
            "POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (2 2, 6 2, 6 6, 2 6, 2 2))"
        )
        mask = rastervec.rasterize_multipolygon(mp, 8, 8)
        assert mask.sum() == 64 - 16
        assert not mask[3, 3]

    def test_triangle_area(self):
        mp = wkt.parse_wkt("POLYGON ((0 0, 16 0, 0 16, 0 0))")
        mask = rastervec.rasterize_multipolygon(mp, 16, 16)
        # scanline center-fill of a right triangle: area ≈ 128
        assert abs(int(mask.sum()) - 128) <= 8

    def test_outside_clipped(self):
        mp = wkt.parse_wkt("POLYGON ((-5 -5, 20 -5, 20 20, -5 20, -5 -5))")
        mask = rastervec.rasterize_multipolygon(mp, 8, 8)
        assert mask.all()


class TestVectorize:
    def test_single_rect(self):
        mask = np.zeros((8, 8), dtype=np.uint8)
        mask[2:5, 1:7] = 1
        mp = rastervec.vectorize_mask(mask)
        assert len(mp) == 1
        assert kernels.multipolygon_area(mp) == 18.0
        assert kernels.bounds(mp) == (1, 2, 7, 5)

    def test_two_components(self):
        mask = np.zeros((8, 8), dtype=np.uint8)
        mask[0:2, 0:2] = 1
        mask[5:8, 5:8] = 1
        mp = rastervec.vectorize_mask(mask)
        assert len(mp) == 2
        assert sorted(kernels.polygon_area(p) for p in mp) == [4.0, 9.0]

    def test_component_with_hole(self):
        mask = np.ones((6, 6), dtype=np.uint8)
        mask[2:4, 2:4] = 0
        mp = rastervec.vectorize_mask(mask)
        assert len(mp) == 1
        assert len(mp[0]) == 2  # shell + hole
        assert kernels.multipolygon_area(mp) == 36.0 - 4.0

    def test_roundtrip(self):
        """rasterize(vectorize(mask)) == mask for rectilinear shapes."""
        rng = np.random.default_rng(3)
        for _ in range(5):
            mask = (rng.random((12, 12)) > 0.6).astype(np.uint8)
            mp = rastervec.vectorize_mask(mask)
            back = rastervec.rasterize_multipolygon(mp, 12, 12)
            assert (back == mask).all()

    def test_l_shape(self):
        mask = np.zeros((6, 6), dtype=np.uint8)
        mask[0:6, 0:2] = 1
        mask[4:6, 0:6] = 1
        mp = rastervec.vectorize_mask(mask)
        assert len(mp) == 1
        assert kernels.multipolygon_area(mp) == 12 + 8


class TestLabeling:
    def test_diagonal_not_connected(self):
        mask = np.array([[1, 0], [0, 1]], dtype=np.uint8)
        _, n = rastervec._label_components(mask)
        assert n == 2  # 4-connectivity

    def test_snake(self):
        mask = np.array(
            [[1, 1, 1, 1], [0, 0, 0, 1], [1, 1, 1, 1], [1, 0, 0, 0]], dtype=np.uint8
        )
        _, n = rastervec._label_components(mask)
        assert n == 1


class TestChipsToPng:
    def test_png_roundtrip_matches_reference_cast(self, spark):
        """chips_to_png emits valid PNGs whose pixels equal the
        reference's (normalized*255).astype(uint8) cast, nodata→0."""
        import numpy as np

        from georip_spark import codecs
        from georip_spark.operators.rastervec import chips_to_png

        payloads = [
            ([0.0, 0.5, 1.0, 0.25, None, 0.75], 3),
            ([1.0, None, 0.0, 0.1], 2),
        ]
        df = spark.createDataFrame(
            [(p, w) for p, w in payloads], "payload array<float>, width int"
        )
        for r in chips_to_png(df).collect():
            png = bytes(r["png"])
            img = codecs.png_decode(png)
            a = np.array(
                [0.0 if v is None else v for v in r["payload"]], dtype=np.float64
            )
            expect = np.clip(a * 255.0, 0, 255).astype(np.uint8).reshape(
                -1, r["width"]
            )
            np.testing.assert_array_equal(img, expect)
            assert img.shape[1] == r["width"]
