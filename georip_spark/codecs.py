"""From-scratch PNG codec over stdlib ``zlib`` + numpy.

The engine depends on no codec libraries (PIL/cv2). PNG — W3C PNG
spec (ISO/IEC 15948; RFC 2083) — needs none: its only compression
primitive is DEFLATE, which stdlib ``zlib`` provides; everything else
(chunk framing, CRC-32 over chunk type+data, scanline filters
None/Sub/Up/Average/Paeth, big-endian sample packing, palette/tRNS
expansion) is implemented here from the spec.

Reference parity: the reference emits PNG chips via skimage
(``georip/raster/conversion.py:12-36``) and never parses media itself;
``png_encode`` is what lets the Spark engine do the same emission
(``operators/rastervec.chips_to_png``) with zero native dependencies.
``png_decode`` / ``png_meta`` are the PNG tests' oracle.

Scale notes: ``png_encode`` runs inside an Arrow-batched pandas UDF
(``rastervec._encode_png_gray``) — per-item byte work on chip-sized payloads,
never on the driver. Filters None/Up/Sub decode fully vectorized (Sub
is a mod-256 cumsum per byte lane); Average/Paeth fall back to a
per-byte loop, which our encoder never emits (it writes filter None)
but external PNGs may.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------

# color type -> number of samples per pixel (before palette expansion)
_PNG_SAMPLES = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_PNG_COLOR_BY_CHANNELS = {1: 0, 2: 4, 3: 2, 4: 6}


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def png_encode(
    arr: np.ndarray, compress_level: int = 6, filter_type: int = 0
) -> bytes:
    """Encode an image array as a PNG byte string.

    ``arr``: uint8 or uint16, shape (H, W) or (H, W, C) with C in
    1..4 — C maps to color type gray / gray+alpha / RGB / RGBA.
    ``filter_type`` selects the spec scanline filter (0=None 1=Sub
    2=Up 3=Average 4=Paeth), applied to every scanline. The default
    stays None (deterministic, and DEFLATE folds flat chip regions
    well); the other four exist so the decoder's unfilter arms — which
    external PNGs exercise — can be driven end-to-end
    (``tests/test_codecs.py::TestPngFilters``).
    """
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.ndim != 3 or arr.shape[2] not in _PNG_COLOR_BY_CHANNELS:
        raise ValueError(f"unsupported image shape {arr.shape}")
    if arr.dtype == np.uint8:
        bit_depth, be = 8, arr
    elif arr.dtype == np.uint16:
        bit_depth, be = 16, arr.astype(">u2")
    else:
        raise ValueError(f"unsupported dtype {arr.dtype} (uint8/uint16)")
    h, w, ch = arr.shape
    color_type = _PNG_COLOR_BY_CHANNELS[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, 0)
    # one filter byte per scanline, then filtered big-endian samples
    lines = be.reshape(h, -1).view(np.uint8) if bit_depth == 16 else be.reshape(h, -1)
    lines = np.ascontiguousarray(lines)
    if filter_type == 0:
        body = lines
    elif filter_type in (1, 2, 3, 4):
        # forward filter per spec §9: filt[x] = (orig[x] - predictor)
        # mod 256, predictor from RECONSTRUCTED (= original) bytes
        bpp = max(1, (ch * bit_depth) // 8)
        cur = lines.astype(np.int64)
        a = np.zeros_like(cur)
        a[:, bpp:] = cur[:, :-bpp]  # left neighbor, same row
        b = np.zeros_like(cur)
        b[1:] = cur[:-1]  # same byte, prior row
        if filter_type == 1:
            pred = a
        elif filter_type == 2:
            pred = b
        elif filter_type == 3:
            pred = (a + b) >> 1
        else:  # Paeth, same tie-breaking order as _paeth
            c = np.zeros_like(cur)
            c[1:, bpp:] = cur[:-1, :-bpp]
            p = a + b - c
            pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
            pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
        body = ((cur - pred) & 0xFF).astype(np.uint8)
    else:
        raise ValueError(f"PNG: bad filter type {filter_type}")
    raw = np.concatenate(
        [np.full((h, 1), filter_type, np.uint8), body], axis=1
    ).tobytes()
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, compress_level))
        + _chunk(b"IEND", b"")
    )


def _png_chunks(data: bytes):
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError(f"truncated PNG chunk {ctype!r}")
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG CRC mismatch in chunk {ctype!r}")
        yield ctype, body
        pos += 12 + length
        if ctype == b"IEND":
            return
    raise ValueError("PNG ended without IEND")


def png_meta(data: bytes) -> dict:
    """Header-only parse: width/height/bit_depth/color_type/channels."""
    for ctype, body in _png_chunks(data):
        if ctype != b"IHDR":
            raise ValueError("PNG: first chunk is not IHDR")
        w, h, bd, ct, comp, filt, inter = struct.unpack(">IIBBBBB", body)
        if comp or filt:
            raise ValueError("PNG: unknown compression/filter method")
        if ct not in _PNG_SAMPLES:
            raise ValueError(f"PNG: bad color type {ct}")
        return {
            "width": w,
            "height": h,
            "bit_depth": bd,
            "color_type": ct,
            "interlace": inter,
            "channels": 3 if ct == 3 else _PNG_SAMPLES[ct],
        }
    raise ValueError("empty PNG")


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo per-scanline filtering -> (h, stride) uint8 of recon bytes."""
    if len(raw) != h * (stride + 1):
        raise ValueError(
            f"PNG: decompressed size {len(raw)} != expected {h * (stride + 1)}"
        )
    flat = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    out = np.empty((h, stride), np.uint8)
    prior = np.zeros(stride, np.int64)
    for y in range(h):
        ftype = flat[y, 0]
        line = flat[y, 1:].astype(np.int64)
        if ftype == 0:  # None
            recon = line
        elif ftype == 2:  # Up
            recon = (line + prior) & 0xFF
        elif ftype == 1:  # Sub: recon[x] = line[x] + recon[x-bpp]
            recon = line.copy()
            for lane in range(bpp):  # mod-256 addition is associative
                recon[lane::bpp] = np.cumsum(recon[lane::bpp]) & 0xFF
        elif ftype in (3, 4):  # Average / Paeth: sequential in x
            recon = np.zeros(stride, np.int64)
            for x in range(stride):
                a = int(recon[x - bpp]) if x >= bpp else 0
                b = int(prior[x])
                if ftype == 3:
                    recon[x] = (line[x] + ((a + b) >> 1)) & 0xFF
                else:
                    c = int(prior[x - bpp]) if x >= bpp else 0
                    recon[x] = (line[x] + _paeth(a, b, c)) & 0xFF
        else:
            raise ValueError(f"PNG: bad filter type {ftype} on row {y}")
        out[y] = recon.astype(np.uint8)
        prior = recon
    return out


def png_decode(data: bytes) -> np.ndarray:
    """Decode a PNG byte string to a numpy array.

    Returns (H, W) for grayscale, else (H, W, C); dtype uint8 or
    uint16. Supports bit depths 1/2/4/8/16 (sub-byte for gray and
    palette), color types 0/2/3/4/6, tRNS palette alpha.
    Adam7 interlacing is rejected with a clear error (our encoder
    never emits it; progressive rendering buys nothing in a batch
    engine).
    """
    meta = png_meta(data)
    if meta["interlace"]:
        raise ValueError("PNG: Adam7 interlace not supported")
    w, h, bd, ct = meta["width"], meta["height"], meta["bit_depth"], meta["color_type"]
    samples = _PNG_SAMPLES[ct]
    if bd not in (1, 2, 4, 8, 16) or (bd < 8 and ct not in (0, 3)):
        raise ValueError(f"PNG: bad bit depth {bd} for color type {ct}")
    idat, plte, trns = [], None, None
    for ctype, body in _png_chunks(data):
        if ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            trns = np.frombuffer(body, np.uint8)
    raw = zlib.decompress(b"".join(idat))
    stride = (w * samples * bd + 7) // 8
    bpp = max(1, (samples * bd) // 8)
    recon = _unfilter(raw, h, stride, bpp)
    if bd == 16:
        arr = recon.reshape(h, stride).view(">u2").astype(np.uint16)
        arr = arr.reshape(h, w, samples)
    elif bd == 8:
        arr = recon.reshape(h, w, samples)
    else:  # sub-byte gray or palette indices: unpack bits per row
        bits = np.unpackbits(recon, axis=1)
        groups = bits[:, : (stride * 8 // bd) * bd].reshape(h, -1, bd)
        weights = (1 << np.arange(bd - 1, -1, -1)).astype(np.uint8)
        arr = (groups * weights).sum(axis=2).astype(np.uint8)[:, :w, None]
    if ct == 3:
        if plte is None:
            raise ValueError("PNG: palette image without PLTE")
        idx = arr[:, :, 0]
        if idx.max(initial=0) >= len(plte):
            raise ValueError("PNG: palette index out of range")
        rgb = plte[idx]
        if trns is not None:
            alpha = np.full(len(plte), 255, np.uint8)
            alpha[: len(trns)] = trns
            return np.dstack([rgb, alpha[idx]])
        return rgb
    return arr[:, :, 0] if samples == 1 else arr
