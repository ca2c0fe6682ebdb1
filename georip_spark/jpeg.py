"""From-scratch baseline JPEG codec (ITU-T T.81 / ISO 10918-1).

Reads and writes JPEG without a native dependency: the engine depends on no PIL/cv2/ffmpeg, but baseline
sequential JPEG is a fully public spec whose only primitives are the
8×8 DCT (numpy matmul), uniform quantization, and canonical Huffman
coding — all implementable from T.81 directly, the same way
``codecs.py`` implements PNG from ISO 15948.

Scope (disclosed):
* **Encoder**: baseline sequential DCT, 8-bit, grayscale or RGB
  (YCbCr per JFIF / BT.601), 4:4:4 or 4:2:0 chroma subsampling,
  Annex-K quantization tables scaled by the IJG quality formula,
  Annex-K "typical" Huffman tables, optional restart intervals.
* **Decoder**: baseline sequential (SOF0) with arbitrary sampling
  factors h,v ∈ {1,2,4}, restart markers, 1- or 3-component scans.
  Progressive (SOF2), arithmetic coding, 12-bit precision, and
  hierarchical modes raise ``ValueError`` — out of scope, as is all
  video (entropy-coded inter-frame codecs).

Reference parity: the reference never parses JPEG itself (it reads
GeoTIFF via GDAL and writes PNG via skimage —
``georip/raster/conversion.py:12-36``). No pipeline, benchmark or
job code imports this module; it stays only for its own tests, and
is slated for retirement (README "What the engine keeps").

Scale notes: per-item work on chip-sized payloads. The DCT/quantize/dequant/IDCT stages
are vectorized numpy over all blocks at once; only the entropy
coder is a per-coefficient Python loop (inherent to Huffman's
serial bit stream; ~10⁴ coefficients for a 64×64 chip).

Verification (tests/test_jpeg.py): the encoder's entropy-coded scan
is byte-compared against an independent per-coefficient spec
reference (naive loops straight from T.81 Annex C/F, same pattern as
the PNG filter reference); the decoder roundtrips the verified
encoder with PSNR floors, exactly recovers DC-only (flat) images,
and is exercised across 4:4:4 / 4:2:0 / grayscale / restart layouts.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# Annex K tables (public, T.81)
# ---------------------------------------------------------------------------

QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32).reshape(8, 8)

QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32).reshape(8, 8)

# zigzag scan order: ZIGZAG[k] = flat (row*8+col) index of the k-th
# zigzag position. Generated by the spec's diagonal walk.
def _zigzag_order() -> np.ndarray:
    order = []
    for s in range(15):
        diag = [(i, s - i) for i in range(8) if 0 <= s - i < 8]
        if s % 2 == 0:
            diag.reverse()
        order.extend(r * 8 + c for r, c in diag)
    return np.array(order, dtype=np.int64)


ZIGZAG = _zigzag_order()
UNZIGZAG = np.argsort(ZIGZAG)

# Annex K "typical" Huffman table specs: (BITS[1..16], HUFFVAL)
HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

# orthonormal 8-point DCT-II matrix: T @ block @ T.T == T.81 FDCT,
# T.T @ coef @ T == IDCT (T is orthogonal).
def _dct_matrix() -> np.ndarray:
    u = np.arange(8)[:, None].astype(np.float64)
    x = np.arange(8)[None, :].astype(np.float64)
    T = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    T[0, :] *= 1.0 / np.sqrt(2.0)
    return T


_DCT_T = _dct_matrix()


def quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """Annex-K tables scaled by the public IJG quality formula."""
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (QT_LUMA, QT_CHROMA):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int32))
    return out[0], out[1]


def build_huffman(bits: list[int], huffval: list[int]) -> dict[int, tuple[int, int]]:
    """Annex C code assignment: symbol -> (code, length)."""
    table: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


class _BitWriter:
    """MSB-first bit stream with 0xFF byte stuffing (F.1.2.3)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


def _magnitude(v: int) -> tuple[int, int]:
    """(category, additional-bits value) per F.1.2.1.1/F.1.2.2.1."""
    if v == 0:
        return 0, 0
    s = int(abs(v)).bit_length()
    return s, v if v > 0 else v + (1 << s) - 1


def _encode_block(
    bw: _BitWriter, coefs: np.ndarray, pred: int,
    dc: dict[int, tuple[int, int]], ac: dict[int, tuple[int, int]],
) -> int:
    """Entropy-encode one zigzagged 64-coefficient block; returns DC."""
    dc_val = int(coefs[0])
    s, extra = _magnitude(dc_val - pred)
    c, ln = dc[s]
    bw.write(c, ln)
    if s:
        bw.write(extra, s)
    run = 0
    nz = np.nonzero(coefs[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for k in range(1, last + 1):
        v = int(coefs[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac[0xF0]  # ZRL
            bw.write(c, ln)
            run -= 16
        s, extra = _magnitude(v)
        c, ln = ac[(run << 4) | s]
        bw.write(c, ln)
        bw.write(extra, s)
        run = 0
    if last < 63:
        c, ln = ac[0x00]  # EOB
        bw.write(c, ln)
    return dc_val


def _fdct_quant(plane: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """Plane (H,W) multiple of 8 → zigzagged quantized coefficients
    with shape (blocks_y, blocks_x, 64). Fully vectorized."""
    h, w = plane.shape
    blocks = (
        plane.astype(np.float64)
        .reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
    ) - 128.0
    # T @ block @ T.T for every block (x = pixel row, v = pixel col)
    coefs = np.einsum("ux,byxv,wv->byuw", _DCT_T, blocks, _DCT_T)
    q = np.round(coefs / qt.astype(np.float64))
    q = q.astype(np.int32).reshape(h // 8, w // 8, 64)
    return q[:, :, ZIGZAG]


def _pad_edge(plane: np.ndarray, mult: int) -> np.ndarray:
    h, w = plane.shape
    ph = (mult - h % mult) % mult
    pw = (mult - w % mult) % mult
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return plane


def rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    """JFIF (BT.601 full-range) forward transform, float64 out."""
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    return np.stack([y, cb, cr], axis=-1)


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y = ycc[..., 0]
    cb = ycc[..., 1] - 128.0
    cr = ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    return np.clip(np.rint(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def jpeg_encode(
    arr: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Encode uint8 (H,W) grayscale or (H,W,3) RGB as baseline JPEG.

    ``subsampling``: '444' (one 8×8 block per component per MCU) or
    '420' (2×2 Y blocks + averaged-downsample Cb,Cr per 16×16 MCU).
    ``restart_interval``: MCUs between RSTn markers (0 = none).
    """
    if arr.dtype != np.uint8:
        raise ValueError("jpeg_encode expects uint8")
    gray = arr.ndim == 2
    if not gray and (arr.ndim != 3 or arr.shape[2] != 3):
        raise ValueError(f"unsupported image shape {arr.shape}")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    h, w = arr.shape[:2]
    qt_l, qt_c = quality_tables(quality)

    if gray:
        planes = [arr.astype(np.float64)]
        samp = [(1, 1)]
        qts = [qt_l]
    else:
        ycc = rgb_to_ycbcr(arr)
        y, cb, cr = ycc[..., 0], ycc[..., 1], ycc[..., 2]
        if subsampling == "420":
            # pad to even dims, then 2×2 mean-downsample the chroma
            ye = _pad_edge(y, 2)
            cbe = _pad_edge(cb, 2)
            cre = _pad_edge(cr, 2)
            cb2 = cbe.reshape(cbe.shape[0] // 2, 2, cbe.shape[1] // 2, 2).mean((1, 3))
            cr2 = cre.reshape(cre.shape[0] // 2, 2, cre.shape[1] // 2, 2).mean((1, 3))
            planes = [ye, cb2, cr2]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]
        qts = [qt_l, qt_c, qt_c]

    # pad each plane so its block grid is a whole number of MCUs
    coef_grids = []
    for plane, (sh, sv), qt in zip(planes, samp, qts):
        # pad (edge-replicate) so the block grid is whole MCUs:
        # height to a multiple of 8·sv, width to a multiple of 8·sh
        plane = np.rint(plane)
        bh = 8 * sv * max(1, -(-plane.shape[0] // (8 * sv)))
        bw_ = 8 * sh * max(1, -(-plane.shape[1] // (8 * sh)))
        plane = np.pad(
            plane,
            ((0, bh - plane.shape[0]), (0, bw_ - plane.shape[1])),
            mode="edge",
        )
        coef_grids.append(_fdct_quant(np.clip(plane, 0, 255), qt))

    mcus_x = coef_grids[0].shape[1] // samp[0][0]
    mcus_y = coef_grids[0].shape[0] // samp[0][1]

    n_comp = len(planes)
    dc_tabs = [build_huffman(*HUFF_DC_LUMA)] + [build_huffman(*HUFF_DC_CHROMA)] * (
        n_comp - 1
    )
    ac_tabs = [build_huffman(*HUFF_AC_LUMA)] + [build_huffman(*HUFF_AC_CHROMA)] * (
        n_comp - 1
    )

    bw = _BitWriter()
    preds = [0] * n_comp
    rst = 0
    mcu_i = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) & 7
                preds = [0] * n_comp
            for ci in range(n_comp):
                sh, sv = samp[ci]
                for by in range(sv):
                    for bx in range(sh):
                        blk = coef_grids[ci][my * sv + by, mx * sh + bx]
                        preds[ci] = _encode_block(
                            bw, blk, preds[ci], dc_tabs[ci], ac_tabs[ci]
                        )
            mcu_i += 1
    bw.flush()
    scan = bytes(bw.out)

    # ---- headers -----------------------------------------------------
    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(qt_l.reshape(64)[ZIGZAG].astype(np.uint8)))
    if n_comp == 3:
        out += seg(
            0xDB, bytes([0x01]) + bytes(qt_c.reshape(64)[ZIGZAG].astype(np.uint8))
        )
    sof = bytearray([8]) + struct.pack(">HH", h, w) + bytes([n_comp])
    for ci in range(n_comp):
        sof += bytes([ci + 1, (samp[ci][0] << 4) | samp[ci][1], 0 if ci == 0 else 1])
    out += seg(0xC0, bytes(sof))
    for cls, tid, spec in (
        (0, 0, HUFF_DC_LUMA), (1, 0, HUFF_AC_LUMA),
        (0, 1, HUFF_DC_CHROMA), (1, 1, HUFF_AC_CHROMA),
    ):
        if tid == 1 and n_comp == 1:
            continue
        bits, vals = spec
        out += seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytearray([n_comp])
    for ci in range(n_comp):
        tid = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (tid << 4) | tid])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, bytes(sos))
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


class _BitReader:
    """MSB-first reader over the entropy-coded segment; un-stuffs
    0xFF00 and stops at any other marker (F.2.2.5)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos < len(d):
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                    self.acc = ((self.acc << 8) | 0xFF) & 0xFFFF
                    self.nbits += 8
                    return
                # marker: feed 1-padding (spec allows reading past EOB)
                self.acc = ((self.acc << 8) | 0xFF) & 0xFFFF
                self.nbits += 8
                return
            self.pos += 1
            self.acc = ((self.acc << 8) | b) & 0xFFFF
            self.nbits += 8
        else:
            self.acc = ((self.acc << 8) | 0xFF) & 0xFFFF
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_restart(self) -> None:
        """Byte-align and consume an RSTn marker."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("expected RSTn marker")


def _extend(v: int, s: int) -> int:
    """F.2.2.1 EXTEND: map s additional bits to a signed value."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


class _HuffDecoder:
    """Canonical Huffman decode via (length → [mincode, maxcode])."""

    def __init__(self, bits: list[int], huffval: list[int]) -> None:
        self.min_code = [0] * 17
        self.max_code = [-1] * 17
        self.val_ptr = [0] * 17
        code = 0
        k = 0
        for ln in range(1, 17):
            if bits[ln - 1]:
                self.val_ptr[ln] = k
                self.min_code[ln] = code
                code += bits[ln - 1]
                k += bits[ln - 1]
                self.max_code[ln] = code - 1
            code <<= 1
        self.huffval = huffval

    def decode(self, br: _BitReader) -> int:
        code = br.read_bit()
        ln = 1
        while code > self.max_code[ln]:
            code = (code << 1) | br.read_bit()
            ln += 1
            if ln > 16:
                raise ValueError("bad Huffman code")
        return self.huffval[self.val_ptr[ln] + code - self.min_code[ln]]


def _segments(data: bytes):
    """Yield (marker, payload_offset, payload_len) for each segment."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    n = len(data)
    while pos + 1 < n:
        if data[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
            yield marker, pos, 0
            if marker == 0xD9:
                return
            continue
        (ln,) = struct.unpack(">H", data[pos: pos + 2])
        yield marker, pos + 2, ln - 2
        pos += ln
        if marker == 0xDA:
            return  # entropy-coded data follows; caller takes over


def jpeg_meta(data: bytes) -> dict:
    """Parse frame header only: dims/channels/precision/process."""
    for marker, off, ln in _segments(data):
        if marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                      0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            precision = data[off]
            h, w = struct.unpack(">HH", data[off + 1: off + 5])
            n_comp = data[off + 5]
            return {
                "format": "jpeg",
                "width": w,
                "height": h,
                "channels": n_comp,
                "bit_depth": precision,
                "process": marker,
            }
    raise ValueError("no SOF marker found")


def jpeg_decode(data: bytes) -> np.ndarray:
    """Decode a baseline-sequential JPEG to uint8 (H,W) or (H,W,3)."""
    qtables: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _HuffDecoder] = {}
    restart_interval = 0
    frame = None
    scan_off = None
    scan_comps = None

    for marker, off, ln in _segments(data):
        if marker == 0xDB:
            p = off
            while p < off + ln:
                pq, tq = data[p] >> 4, data[p] & 15
                p += 1
                if pq == 0:
                    t = np.frombuffer(data[p: p + 64], dtype=np.uint8).astype(np.int32)
                    p += 64
                else:
                    t = np.frombuffer(data[p: p + 128], dtype=">u2").astype(np.int32)
                    p += 128
                qtables[tq] = t[UNZIGZAG].reshape(8, 8)
        elif marker == 0xC4:
            p = off
            while p < off + ln:
                tc, th = data[p] >> 4, data[p] & 15
                bits = list(data[p + 1: p + 17])
                nv = sum(bits)
                vals = list(data[p + 17: p + 17 + nv])
                huff[(tc, th)] = _HuffDecoder(bits, vals)
                p += 17 + nv
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", data[off: off + 2])
        elif marker == 0xC0:
            precision = data[off]
            if precision != 8:
                raise ValueError(f"unsupported precision {precision}")
            h, w = struct.unpack(">HH", data[off + 1: off + 5])
            n_comp = data[off + 5]
            comps = []
            for i in range(n_comp):
                cid = data[off + 6 + 3 * i]
                sf = data[off + 7 + 3 * i]
                tq = data[off + 8 + 3 * i]
                comps.append({"id": cid, "h": sf >> 4, "v": sf & 15, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9,
                        0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only baseline sequential (SOF0) JPEG is supported; "
                f"got SOF marker 0x{marker:02x} (progressive/extended/"
                "arithmetic out of scope)"
            )
        elif marker == 0xDA:
            ns = data[off]
            scan_comps = []
            for i in range(ns):
                cs = data[off + 1 + 2 * i]
                tt = data[off + 2 + 2 * i]
                scan_comps.append({"id": cs, "td": tt >> 4, "ta": tt & 15})
            scan_off = off + ln
    if frame is None or scan_off is None:
        raise ValueError("missing SOF0/SOS")

    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    h, w = frame["h"], frame["w"]
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    by_id = {c["id"]: c for c in comps}
    order = [by_id[s["id"]] for s in scan_comps]
    for c, s in zip(order, scan_comps):
        c["td"], c["ta"] = s["td"], s["ta"]
        c["coef"] = np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64), dtype=np.int32)

    br = _BitReader(data, scan_off)
    preds = {c["id"]: 0 for c in comps}
    mcu_i = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                br.align_restart()
                preds = {c["id"]: 0 for c in comps}
            for c in order:
                dc_t = huff[(0, c["td"])]
                ac_t = huff[(1, c["ta"])]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        blk = c["coef"][my * c["v"] + by, mx * c["h"] + bx]
                        s = dc_t.decode(br)
                        diff = _extend(br.receive(s), s) if s else 0
                        preds[c["id"]] += diff
                        blk[0] = preds[c["id"]]
                        k = 1
                        while k <= 63:
                            rs = ac_t.decode(br)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC index out of range")
                            blk[k] = _extend(br.receive(s), s)
                            k += 1
            mcu_i += 1

    # dequant + IDCT, vectorized per component. c["coef"] holds the
    # 64 coefficients in ZIGZAG order (as decoded from the scan), and
    # qtables[] was stored in NATURAL order — reorder the table into
    # zigzag order so coefficient k is scaled by its own quantizer.
    planes = []
    for c in order:
        qt = qtables[c["tq"]].reshape(64)[ZIGZAG].astype(np.float64)
        coef = c["coef"].astype(np.float64) * qt[None, None, :]
        deq = np.zeros_like(coef)
        deq[:, :, ZIGZAG] = coef
        by, bx = deq.shape[0], deq.shape[1]
        blocks = deq.reshape(by, bx, 8, 8)
        pix = np.einsum("xu,byuv,vw->byxw", _DCT_T.T, blocks, _DCT_T) + 128.0
        plane = (
            pix.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        )
        # upsample by pixel replication to the full MCU-padded grid
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[: h, : w])

    if len(planes) == 1:
        return np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8)
    ycc = np.stack(planes, axis=-1)
    return ycbcr_to_rgb(ycc)
