"""From-scratch MJPEG-AVI container codec (Microsoft AVI RIFF form).

The one video format that needs NO inter-frame machinery:
Motion-JPEG stores each frame as a complete baseline JPEG inside RIFF
``00dc`` chunks, so the whole decoder is RIFF walking plus
``georip_spark.jpeg``. MP4/H.264 and every other entropy-coded
inter-frame codec are out of scope — they need codec libraries the
engine does not depend on.

Layout emitted/parsed (the canonical AVI RIFF form, public spec —
Microsoft "AVI RIFF File Reference" / OpenDML AVI):

    RIFF <sz> 'AVI '
      LIST <sz> 'hdrl'
        'avih' 56   MainAVIHeader (µs/frame, totalFrames, w, h, …)
        LIST <sz> 'strl'
          'strh' 56 AVIStreamHeader (fccType='vids', handler='MJPG',
                     dwScale/dwRate = frame timing)
          'strf' 40 BITMAPINFOHEADER (biCompression='MJPG')
      LIST <sz> 'movi'
        '00dc' <sz> <complete baseline JPEG>   (even-padded)
        …
      'idx1' 16·n   AVIOLDINDEX (keyframe flags, offsets)

Reference parity: the reference never reads video (GDAL rasters
only). No pipeline, benchmark or job code imports this module; it
stays only for its own tests and is slated for retirement (README
"What the engine keeps").

Scale notes: Frame *sampling* never decodes skipped frames — the ``00dc`` walk
skips their bytes, so sampling every k-th frame costs 1/k of the
JPEG work (container walking is O(total frames) pointer math).
"""

from __future__ import annotations

import struct

import numpy as np

from georip_spark import jpeg


def _le32(v: int) -> bytes:
    return struct.pack("<I", v & 0xFFFFFFFF)


def avi_encode_mjpeg(
    frames: "np.ndarray | list[np.ndarray]",
    fps: int = 10,
    quality: int = 85,
) -> bytes:
    """Encode frames (each uint8 (H,W) or (H,W,3), all same shape)
    as an MJPEG AVI. Every frame is a keyframe by construction."""
    frames = list(frames)
    if not frames:
        raise ValueError("no frames")
    h, w = frames[0].shape[:2]
    payloads = []
    for f in frames:
        if f.shape[:2] != (h, w):
            raise ValueError("all frames must share one shape")
        payloads.append(jpeg.jpeg_encode(f, quality=quality))
    n = len(payloads)
    max_sz = max(len(p) for p in payloads)

    avih = b"avih" + _le32(56) + b"".join(
        _le32(x)
        for x in (
            1_000_000 // fps,   # dwMicroSecPerFrame
            max_sz * fps,       # dwMaxBytesPerSec
            0,                  # dwPaddingGranularity
            0x10,               # dwFlags: AVIF_HASINDEX
            n,                  # dwTotalFrames
            0,                  # dwInitialFrames
            1,                  # dwStreams
            max_sz,             # dwSuggestedBufferSize
            w, h,
            0, 0, 0, 0,         # dwReserved
        )
    )
    strh = (
        b"strh" + _le32(56) + b"vids" + b"MJPG"
        + _le32(0)              # dwFlags
        + _le32(0)              # wPriority + wLanguage
        + _le32(0)              # dwInitialFrames
        + _le32(1)              # dwScale
        + _le32(fps)            # dwRate (fps = rate/scale)
        + _le32(0)              # dwStart
        + _le32(n)              # dwLength (frames)
        + _le32(max_sz)         # dwSuggestedBufferSize
        + _le32(0xFFFFFFFF)     # dwQuality (default)
        + _le32(0)              # dwSampleSize (0: varying)
        + struct.pack("<4H", 0, 0, w, h)  # rcFrame
    )
    strf = b"strf" + _le32(40) + struct.pack(
        "<IiiHH4sIiiII",
        40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0,
    )
    strl = b"LIST" + _le32(4 + len(strh) + len(strf)) + b"strl" + strh + strf
    hdrl = b"LIST" + _le32(4 + len(avih) + len(strl)) + b"hdrl" + avih + strl

    movi_body = bytearray(b"movi")
    idx = bytearray()
    for p in payloads:
        # idx1 offsets are relative to the 'movi' fourcc position
        idx += b"00dc" + _le32(0x10) + _le32(len(movi_body)) + _le32(len(p))
        movi_body += b"00dc" + _le32(len(p)) + p
        if len(p) % 2:
            movi_body += b"\x00"  # RIFF chunks are even-aligned
    movi = b"LIST" + _le32(len(movi_body)) + bytes(movi_body)
    idx1 = b"idx1" + _le32(len(idx)) + bytes(idx)

    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + _le32(len(body)) + body


def _riff_chunks(data: bytes, start: int, end: int):
    """Yield (fourcc, list_type_or_None, payload_start, payload_size)
    walking one chunk level; even-alignment per the RIFF spec."""
    p = start
    while p + 8 <= end:
        cc = data[p: p + 4]
        (sz,) = struct.unpack("<I", data[p + 4: p + 8])
        if cc == b"LIST":
            yield cc, data[p + 8: p + 12], p + 12, sz - 4
        else:
            yield cc, None, p + 8, sz
        p += 8 + sz + (sz & 1)


def avi_meta(data: bytes) -> dict:
    """Container metadata from the MainAVIHeader."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI file")
    for cc, lt, off, sz in _riff_chunks(data, 12, len(data)):
        if cc == b"LIST" and lt == b"hdrl":
            for cc2, _lt2, off2, sz2 in _riff_chunks(data, off, off + sz):
                if cc2 == b"avih":
                    us, _mb, _pg, _fl, total, _init, _ns, _buf, w, h = (
                        struct.unpack("<10I", data[off2: off2 + 40])
                    )
                    return {
                        "format": "avi",
                        "width": w,
                        "height": h,
                        "n_frames": total,
                        "fps": round(1_000_000 / us, 3) if us else None,
                        "codec": "MJPG",
                    }
    raise ValueError("no avih header")


def avi_iter_frame_chunks(data: bytes):
    """Yield (frame_idx, jpeg_bytes) for every video chunk in movi
    order — pure pointer walking, no decode."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI file")
    i = 0
    for cc, lt, off, sz in _riff_chunks(data, 12, len(data)):
        if cc == b"LIST" and lt == b"movi":
            for cc2, _lt2, off2, sz2 in _riff_chunks(data, off, off + sz):
                if cc2[2:4] in (b"dc", b"db"):  # compressed/uncompressed video
                    yield i, data[off2: off2 + sz2]
                    i += 1


def avi_decode_frames(
    data: bytes, every: int = 1, limit: int | None = None
) -> list[np.ndarray]:
    """Decode every ``every``-th frame (indices 0, every, 2·every, …),
    at most ``limit`` of them. Skipped frames are never JPEG-decoded —
    the container walk just steps over their bytes."""
    out: list[np.ndarray] = []
    for i, p in avi_iter_frame_chunks(data):
        if i % every == 0:
            out.append(jpeg.jpeg_decode(p))
            if limit is not None and len(out) >= limit:
                break
    return out
