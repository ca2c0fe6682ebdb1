"""Codec tests: PNG against an independent in-test unfilter oracle +
roundtrip properties."""

import struct
import zlib

import numpy as np
import pytest

from georip_spark import codecs


# ---------------------------------------------------------------------------
# independent PNG reference pieces (straight from the spec pseudocode,
# per-pixel python — deliberately NOT the library's vectorized path)
# ---------------------------------------------------------------------------

def ref_filter_line(ftype, line, prior, bpp):
    """FORWARD filter a reconstructed scanline (spec 'Filter' step)."""
    out = bytearray()
    for x in range(len(line)):
        a = line[x - bpp] if x >= bpp else 0
        b = prior[x]
        c = prior[x - bpp] if x >= bpp else 0
        if ftype == 0:
            v = line[x]
        elif ftype == 1:
            v = line[x] - a
        elif ftype == 2:
            v = line[x] - b
        elif ftype == 3:
            v = line[x] - ((a + b) >> 1)
        elif ftype == 4:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            v = line[x] - pred
        out.append(v & 0xFF)
    return bytes(out)


def build_png(pixels, bit_depth=8, color_type=2, filters=None, extra_chunks=()):
    """Hand-assemble a PNG from reconstructed sample bytes per row,
    forward-filtering each row with the requested filter types."""
    h = len(pixels)
    w = len(pixels[0]) // {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    if bit_depth < 8:
        w = None  # caller passes packed bytes; width set via ihdr_w
    samples = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    bpp = max(1, samples * bit_depth // 8)
    filters = filters or [0] * h
    prior = bytes(len(pixels[0]))
    raw = bytearray()
    for ftype, line in zip(filters, pixels):
        raw.append(ftype)
        raw += ref_filter_line(ftype, line, prior, bpp)
        prior = line
    return raw, bpp


def assemble_png(ihdr_w, ihdr_h, bit_depth, color_type, raw, extra_chunks=()):
    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    out = b"\x89PNG\r\n\x1a\n"
    out += chunk(b"IHDR", struct.pack(">IIBBBBB", ihdr_w, ihdr_h,
                                      bit_depth, color_type, 0, 0, 0))
    for ctype, data in extra_chunks:
        out += chunk(ctype, data)
    out += chunk(b"IDAT", zlib.compress(bytes(raw)))
    out += chunk(b"IEND", b"")
    return out


class TestPngFilters:
    """Decode PNGs whose rows were forward-filtered by the independent
    per-pixel reference — one case per filter type, plus mixed."""

    @pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
    def test_each_filter_rgb(self, ftype):
        rng = np.random.default_rng(ftype)
        img = rng.integers(0, 256, (5, 4, 3), dtype=np.uint8)
        rows = [img[y].reshape(-1).tolist() for y in range(5)]
        raw, _ = build_png(rows, color_type=2, filters=[ftype] * 5)
        data = assemble_png(4, 5, 8, 2, raw)
        np.testing.assert_array_equal(codecs.png_decode(data), img)

    def test_mixed_filters_gray16(self):
        rng = np.random.default_rng(7)
        img = rng.integers(0, 65536, (6, 3), dtype=np.uint16)
        rows = [img[y].astype(">u2").tobytes() for y in range(6)]
        rows = [list(r) for r in rows]
        raw, _ = build_png(rows, bit_depth=16, color_type=0,
                           filters=[0, 1, 2, 3, 4, 2])
        data = assemble_png(3, 6, 16, 0, raw)
        out = codecs.png_decode(data)
        assert out.dtype == np.uint16
        np.testing.assert_array_equal(out, img)

    @pytest.mark.parametrize("ftype", [1, 2, 3, 4])
    @pytest.mark.parametrize(
        "shape,dtype", [((5, 4, 3), np.uint8), ((6, 3), np.uint16),
                        ((4, 5, 4), np.uint8), ((3, 2, 2), np.uint16)]
    )
    def test_encoder_filters_match_spec_reference(self, ftype, shape, dtype):
        """png_encode(filter_type=k)'s filtered IDAT bytes must equal
        the independent per-pixel spec reference's forward filter —
        not merely roundtrip (complementary encoder/decoder bugs
        would survive a roundtrip-only check)."""
        rng = np.random.default_rng(ftype * 31 + len(shape))
        hi = 256 if dtype == np.uint8 else 65536
        img = rng.integers(0, hi, shape, dtype=dtype)
        h = shape[0]
        ch = shape[2] if len(shape) == 3 else 1
        bit_depth = 8 if dtype == np.uint8 else 16
        lines = (
            img.astype(">u2").reshape(h, -1).view(np.uint8)
            if bit_depth == 16 else img.reshape(h, -1)
        )
        # .tolist() → python ints: the per-pixel reference does raw
        # arithmetic and would silently overflow on np.uint8 scalars
        rows = [np.ascontiguousarray(lines)[y].tolist() for y in range(h)]
        color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
        ref_raw, _ = build_png(rows, bit_depth=bit_depth,
                               color_type=color_type, filters=[ftype] * h)
        data = codecs.png_encode(img, filter_type=ftype)
        idat = b"".join(
            body for ctype, body in codecs._png_chunks(data) if ctype == b"IDAT"
        )
        assert zlib.decompress(idat) == bytes(ref_raw)
        np.testing.assert_array_equal(codecs.png_decode(data), img)

    def test_paeth_tiebreak_left(self):
        # pa == pb == pc must predict from a (left), not b or c
        rows = [[10, 10, 10], [10, 10, 10]]
        raw, _ = build_png(rows, color_type=0, filters=[0, 4])
        data = assemble_png(3, 2, 8, 0, raw)
        np.testing.assert_array_equal(
            codecs.png_decode(data), np.full((2, 3), 10, np.uint8)
        )


class TestPngRoundtrip:
    @pytest.mark.parametrize("shape,dtype", [
        ((1, 1), np.uint8), ((7, 3), np.uint8), ((5, 9, 2), np.uint8),
        ((4, 4, 3), np.uint8), ((3, 5, 4), np.uint8),
        ((6, 2), np.uint16), ((2, 3, 3), np.uint16), ((3, 2, 4), np.uint16),
    ])
    def test_roundtrip(self, shape, dtype):
        rng = np.random.default_rng(hash(shape) % 2**32)
        hi = 256 if dtype == np.uint8 else 65536
        img = rng.integers(0, hi, shape, dtype=dtype)
        out = codecs.png_decode(codecs.png_encode(img))
        np.testing.assert_array_equal(out, img)
        assert out.dtype == dtype

    def test_meta(self):
        img = np.zeros((3, 7, 4), np.uint8)
        m = codecs.png_meta(codecs.png_encode(img))
        assert (m["width"], m["height"], m["channels"], m["bit_depth"]) == (7, 3, 4, 8)
        assert codecs.sniff(codecs.png_encode(img)) == "png"


class TestPngSubByteAndPalette:
    def test_gray_1bit(self):
        # 10 px wide -> packed into 2 bytes/row, MSB first
        img = np.array([[1, 0, 1, 1, 0, 0, 1, 0, 1, 1],
                        [0, 1, 1, 0, 1, 0, 0, 1, 0, 0]], np.uint8)
        packed = np.packbits(img, axis=1)
        rows = [packed[y].tolist() for y in range(2)]
        raw, _ = build_png(rows, bit_depth=1, color_type=0)
        data = assemble_png(10, 2, 1, 0, raw)
        np.testing.assert_array_equal(codecs.png_decode(data), img)

    def test_gray_4bit(self):
        img = np.array([[15, 3, 9], [0, 7, 12]], np.uint8)
        # pack two 4-bit samples per byte, pad last nibble with 0
        rows = [[(15 << 4) | 3, 9 << 4], [(0 << 4) | 7, 12 << 4]]
        raw, _ = build_png(rows, bit_depth=4, color_type=0)
        data = assemble_png(3, 2, 4, 0, raw)
        np.testing.assert_array_equal(codecs.png_decode(data), img)

    def test_palette_with_trns(self):
        plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R,G,B entries
        trns = bytes([10, 200])  # alpha for first two entries
        rows = [[0, 1, 2], [2, 1, 0]]
        raw, _ = build_png(rows, bit_depth=8, color_type=3)
        data = assemble_png(3, 2, 8, 3, raw,
                            extra_chunks=[(b"PLTE", plte), (b"tRNS", trns)])
        out = codecs.png_decode(data)
        assert out.shape == (2, 3, 4)
        np.testing.assert_array_equal(out[0, 0], [255, 0, 0, 10])
        np.testing.assert_array_equal(out[0, 1], [0, 255, 0, 200])
        np.testing.assert_array_equal(out[0, 2], [0, 0, 255, 255])

    def test_palette_without_plte_raises(self):
        rows = [[0]]
        raw, _ = build_png(rows, bit_depth=8, color_type=3)
        data = assemble_png(1, 1, 8, 3, raw)
        with pytest.raises(ValueError, match="PLTE"):
            codecs.png_decode(data)


class TestPngRobustness:
    def test_crc_corruption_raises(self):
        data = bytearray(codecs.png_encode(np.zeros((2, 2), np.uint8)))
        data[40] ^= 0xFF
        with pytest.raises(ValueError, match="CRC|size|filter|chunk"):
            codecs.png_decode(bytes(data))

    def test_not_png(self):
        with pytest.raises(ValueError, match="signature"):
            codecs.png_decode(b"JFIF not a png at all....")
        assert codecs.sniff(b"JFIF....") is None

    def test_interlace_rejected(self):
        raw, _ = build_png([[0, 0, 0]], color_type=0)
        data = bytearray(assemble_png(3, 1, 8, 0, raw))
        data[8 + 4 + 4 + 12] = 1  # IHDR interlace byte
        # re-CRC the IHDR chunk
        body = bytes(data[16:29])
        data[29:33] = struct.pack(">I", zlib.crc32(b"IHDR" + body) & 0xFFFFFFFF)
        with pytest.raises(ValueError, match="interlace"):
            codecs.png_decode(bytes(data))

    def test_truncated(self):
        data = codecs.png_encode(np.zeros((4, 4), np.uint8))
        with pytest.raises(ValueError):
            codecs.png_decode(data[: len(data) - 6])

