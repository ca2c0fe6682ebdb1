"""Multimodal columns: opaque binary payloads + typed metadata.

Image/audio/video payloads are opaque `binary` columns with a typed
metadata struct; decode / feature-extract / resize / frame-sample run
as Arrow-batched functions over ``mapInPandas``.

Decode is REAL for PNG images, baseline JPEG images, WAV audio, and
MJPEG-AVI video via the from-scratch spec implementations in
``georip_spark.codecs``, ``georip_spark.jpeg`` and
``georip_spark.avi`` (stdlib zlib + numpy — no native codec
libraries needed). Formats that genuinely require codec machinery
this engine does not carry (progressive/arithmetic JPEG, MP4/H.264 and all
inter-frame video) keep the disclosed stub: ``decode_stub='error'``
raises NotImplementedError for unrecognized payloads (the honest
production posture), ``decode_stub='fake'`` produces a deterministic
fake decode derived from the payload bytes so plumbing stays
testable either way.

Scale notes: payloads never pass through the driver; mapInPandas
streams Arrow batches. Header metadata (dims, sample rate, …) for
recognized formats is extracted by PURE COLUMN MATH over the binary
column (``media_meta_cols``) — at 100 TB the common "filter media by
dims/rate" predicate runs scan-stage in the JVM with zero Python and
zero full-payload decode.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from georip_spark import avi, codecs, jpeg

MEDIA_META = T.StructType(
    [
        T.StructField("media_type", T.StringType()),   # image | audio | video
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_META),
    ]
)

_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("digest", T.StringType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def synth_media(df: DataFrame, ref_col: str = "media_ref") -> DataFrame:
    """Attach a deterministic binary payload + metadata to each ref —
    the fixture generator for multimodal plumbing tests (payload =
    repeated sha-like bytes of the ref; metadata from hash math)."""
    h = F.xxhash64(F.col(ref_col))
    payload = F.to_binary(
        F.repeat(F.md5(F.col(ref_col)), 8), F.lit("hex")
    )
    meta = F.struct(
        F.when(F.pmod(h, 3) == 0, "image").when(F.pmod(h, 3) == 1, "audio")
        .otherwise("video").alias("media_type"),
        (F.lit(64) + F.pmod(h, 8).cast("int") * 32).cast("int").alias("width"),
        (F.lit(64) + F.pmod(h, 5).cast("int") * 32).cast("int").alias("height"),
        F.lit(3).cast("int").alias("n_channels"),
        F.lit(16000).cast("int").alias("sample_rate"),
        (F.lit(1) + F.pmod(h, 16).cast("int")).cast("int").alias("n_frames"),
    )
    return df.select(F.col(ref_col).alias("media_ref"), payload.alias("payload"), meta.alias("meta"))


def synth_media_real(df: DataFrame, ref_col: str = "media_ref") -> DataFrame:
    """Like :func:`synth_media` but payloads are REAL encoded media:
    image rows carry a deterministic PNG or baseline JPEG (alternating
    by ref hash, so both image codecs are exercised), audio rows a
    deterministic 16-bit PCM WAV, video rows a deterministic MJPEG
    AVI (``georip_spark.avi``) with ``n_frames`` grayscale frames.
    Runs in mapInPandas so encode happens executor-side."""
    base = synth_media(df, ref_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from georip_spark import jpeg as _jpeg

        for pdf in batches:
            payloads = []
            for ref, payload, meta in zip(
                pdf["media_ref"].values, pdf["payload"].values, pdf["meta"].values
            ):
                seed = int.from_bytes(hashlib.md5(ref.encode()).digest()[:8], "big")
                rng = np.random.default_rng(seed)
                if meta["media_type"] == "image":
                    img = rng.integers(
                        0, 256, (meta["height"], meta["width"], 3), dtype=np.uint8
                    )
                    if seed % 2:
                        payloads.append(_jpeg.jpeg_encode(img, quality=90))
                    else:
                        payloads.append(codecs.png_encode(img))
                elif meta["media_type"] == "audio":
                    n = meta["sample_rate"] // 100  # 10 ms clip
                    samples = rng.integers(-32768, 32767, (n, 1), dtype=np.int16)
                    payloads.append(codecs.wav_encode(samples, meta["sample_rate"]))
                else:
                    frames = [
                        rng.integers(
                            0, 256, (meta["height"], meta["width"]),
                            dtype=np.uint8,
                        )
                        for _ in range(meta["n_frames"])
                    ]
                    payloads.append(avi.avi_encode_mjpeg(frames, fps=10))
            pdf = pdf.copy()
            pdf["payload"] = payloads
            yield pdf

    return base.mapInPandas(run, MEDIA_SCHEMA)


def _be_u32(payload: Column, pos: int) -> Column:
    """Big-endian u32 at 1-based byte offset, JVM-side."""
    return F.conv(F.hex(F.substring(payload, pos, 4)), 16, 10).cast("long")


def _le_u(payload: Column, pos: int, nbytes: int) -> Column:
    """Little-endian unsigned int at 1-based byte offset, JVM-side:
    hex the bytes in reverse order, then conv base 16 → 10."""
    parts = [F.hex(F.substring(payload, pos + i, 1)) for i in range(nbytes - 1, -1, -1)]
    return F.conv(F.concat(*parts), 16, 10).cast("long")


def media_meta_cols(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Header metadata as PURE COLUMN MATH over the binary payload —
    no Python workers, no full decode, runs scan-stage at any scale.

    PNG: signature + IHDR fields (spec fixes IHDR as the first chunk,
    so width/height/bit_depth/color_type sit at fixed offsets).
    WAV: RIFF/WAVE magic + the canonical layout with ``fmt `` as the
    first chunk (what every encoder here and virtually all writers
    emit); non-canonical chunk orders fall back to
    ``extract_features``'s python parse. AVI (MJPEG): RIFF/'AVI '
    magic + the canonical layout with LIST-hdrl/avih first (what
    ``georip_spark.avi`` emits and mainstream muxers write), putting
    the MainAVIHeader at byte 32 — dims, total frames. JPEG: magic
    only — its SOF0 frame header floats behind variable-length
    segments, so dims stay null here and
    ``georip_spark.jpeg.jpeg_meta``'s python parse is the dims path.
    Adds ``sniffed_type``, ``media_w``, ``media_h``,
    ``media_bit_depth``, ``media_channels``, ``media_sample_rate``,
    ``media_n_frames``."""
    p = F.col(payload_col)
    is_png = F.hex(F.substring(p, 1, 8)) == "89504E470D0A1A0A"
    is_wav = (F.hex(F.substring(p, 1, 4)) == "52494646") & (
        F.hex(F.substring(p, 9, 4)) == "57415645"
    )
    # canonical layout: LIST at 13, 'hdrl' at 21 → avih payload at 33
    is_avi = (
        (F.hex(F.substring(p, 1, 4)) == "52494646")
        & (F.hex(F.substring(p, 9, 4)) == "41564920")
        & (F.hex(F.substring(p, 13, 4)) == "4C495354")
        & (F.hex(F.substring(p, 21, 4)) == "6864726C")
    )
    is_jpeg = F.hex(F.substring(p, 1, 3)) == "FFD8FF"
    png_color = _le_u(p, 26, 1)
    png_channels = (
        F.when(png_color == 0, 1)
        .when(png_color == 2, 3)
        .when(png_color == 3, 3)
        .when(png_color == 4, 2)
        .when(png_color == 6, 4)
    )
    return df.select(
        "*",
        F.when(is_png, "png")
        .when(is_wav, "wav")
        .when(is_avi, "avi")
        .when(is_jpeg, "jpeg")
        .alias("sniffed_type"),
        F.when(is_png, _be_u32(p, 17))
        .when(is_avi, _le_u(p, 65, 4))
        .cast("int")
        .alias("media_w"),
        F.when(is_png, _be_u32(p, 21))
        .when(is_avi, _le_u(p, 69, 4))
        .cast("int")
        .alias("media_h"),
        F.when(is_png, _le_u(p, 25, 1))
        .when(is_wav, _le_u(p, 35, 2))
        .cast("int")
        .alias("media_bit_depth"),
        F.when(is_png, png_channels)
        .when(is_wav, _le_u(p, 23, 2))
        .cast("int")
        .alias("media_channels"),
        F.when(is_wav, _le_u(p, 25, 4)).cast("int").alias("media_sample_rate"),
        F.when(is_avi, _le_u(p, 49, 4)).cast("int").alias("media_n_frames"),
    )


_RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("target_w", T.IntegerType()),
        T.StructField("target_h", T.IntegerType()),
    ]
)


def resize_image(media: DataFrame, max_side: int = 64) -> DataFrame:
    """REAL pixel resample for PNG and baseline-JPEG payloads: decode,
    nearest-neighbor resample to ≤ max_side preserving aspect
    (deterministic integer index map — no interpolation ties),
    re-encode in the source format (JPEG at quality 90). Other rows
    pass through unchanged with their original dims."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, payload in zip(pdf["media_ref"].values, pdf["payload"].values):
                payload = bytes(payload)
                kind = codecs.sniff(payload)
                if kind not in ("png", "jpeg"):
                    rows.append((ref, payload, None, None))
                    continue
                try:
                    if kind == "png":
                        img = codecs.png_decode(payload)
                    else:
                        img = jpeg.jpeg_decode(payload)
                except (ValueError, KeyError, IndexError,
                        struct.error, zlib.error):
                    # magic matched but the body is undecodable
                    # (progressive JPEG, truncation) — pass through
                    rows.append((ref, payload, None, None))
                    continue
                h, w = img.shape[:2]
                scale = min(max_side / w, max_side / h, 1.0)
                tw, th = max(1, int(w * scale)), max(1, int(h * scale))
                ys = (np.arange(th) * h) // th
                xs = (np.arange(tw) * w) // tw
                small = img[ys][:, xs]
                out = (
                    codecs.png_encode(small)
                    if kind == "png"
                    else jpeg.jpeg_encode(small, quality=90)
                )
                rows.append((ref, out, tw, th))
            yield pd.DataFrame(
                rows, columns=["media_ref", "payload", "target_w", "target_h"]
            )

    return media.mapInPandas(run, _RESIZED_SCHEMA)


def _fake_decode(payload: bytes, meta: dict) -> np.ndarray:
    """Deterministic fake 'decode': bytes → pseudo-pixel array of the
    metadata's shape. Stands in for formats without a real codec."""
    seed = int.from_bytes(hashlib.md5(payload).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    w = int(meta["width"] or 8)
    hgt = int(meta["height"] or 8)
    return rng.random((hgt, w), dtype=np.float32)


def decode_media(payload: bytes) -> np.ndarray | None:
    """REAL decode for recognized payloads, normalized to float32:

    * PNG → pixel array scaled to [0, 1] by the bit depth's max
    * baseline JPEG → uint8 pixel array scaled to [0, 1]
    * MJPEG AVI → FIRST frame scaled to [0, 1] (frame-level access
      goes through :func:`sample_frames_decode`)
    * WAV → (n_frames, n_channels) samples scaled to [-1, 1]

    Returns None for unrecognized or undecodable payloads —
    inter-frame video, and also payloads whose MAGIC matches but whose
    body this codec set can't decode (progressive/arithmetic JPEG,
    truncated/corrupt files) — so callers pick the stub posture
    instead of one bad payload crashing a whole executor task. Pure
    python+numpy, safe inside Arrow workers."""
    kind = codecs.sniff(payload)
    try:
        if kind == "png":
            arr = codecs.png_decode(payload)
            return arr.astype(np.float32) / float(np.iinfo(arr.dtype).max)
        if kind == "jpeg":
            return jpeg.jpeg_decode(payload).astype(np.float32) / 255.0
        if kind == "avi":
            frames = avi.avi_decode_frames(payload, limit=1)
            return frames[0].astype(np.float32) / 255.0 if frames else None
        if kind == "wav":
            samples, _rate = codecs.wav_decode(payload)
            if samples.dtype == np.uint8:
                return (samples.astype(np.float32) - 128.0) / 128.0
            if np.issubdtype(samples.dtype, np.integer):
                return samples.astype(np.float32) / float(
                    np.iinfo(samples.dtype).max + 1
                )
            return samples.astype(np.float32)
    except (ValueError, KeyError, IndexError, struct.error, zlib.error):
        # sniffed-but-undecodable (progressive JPEG, truncation, …)
        return None
    return None


def extract_features(
    media: DataFrame,
    n_features: int = 8,
    decode_stub: str = "fake",
) -> DataFrame:
    """Decode + feature-extract over mapInPandas.

    Recognized payloads (PNG/JPEG/WAV) decode for real via
    ``georip_spark.codecs``. For unrecognized formats,
    decode_stub='error' raises NotImplementedError (the marked stub
    for codecs this environment can't implement from scratch);
    'fake' uses the deterministic fake decode so the full pipeline
    shape is exercised. Features: per-band means of the decoded
    array (placeholder for a real embedding model)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            # zip over ndarrays, not iterrows: decode is inherently
            # per-item but the row plumbing needn't pay pandas row-view
            # construction (~10× per-row overhead)
            for ref, payload, meta in zip(
                pdf["media_ref"].values, pdf["payload"].values, pdf["meta"].values
            ):
                payload = bytes(payload)
                arr = decode_media(payload)
                if arr is None:
                    if decode_stub == "error":
                        raise NotImplementedError(
                            "payload is not PNG/JPEG/WAV/MJPEG-AVI; "
                            "inter-frame video (MP4/H.264 …) requires "
                            "codec libraries (ffmpeg) not present in "
                            "this environment"
                        )
                    arr = _fake_decode(payload, meta)
                bands = np.array_split(arr.ravel(), n_features)
                feats = [float(b.mean()) if len(b) else 0.0 for b in bands]
                rows.append(
                    (
                        ref,
                        len(payload),
                        hashlib.md5(payload).hexdigest(),
                        feats,
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_ref", "n_bytes", "digest", "features"]
            )

    return media.mapInPandas(run, _FEATURES_SCHEMA)


def resize_meta(media: DataFrame, max_side: int = 64) -> DataFrame:
    """'Resize' planning as pure column math: target dims preserving
    aspect ratio, capped at max_side (the actual pixel resample lives
    behind the decode stub)."""
    w, h = F.col("meta.width"), F.col("meta.height")
    scale = F.least(F.lit(max_side) / w, F.lit(max_side) / h, F.lit(1.0))
    return media.select(
        "media_ref",
        F.ceil(w * scale).cast("int").alias("target_w"),
        F.ceil(h * scale).cast("int").alias("target_h"),
    )


def sample_frames(media: DataFrame, every: int = 4) -> DataFrame:
    """Frame-sampling plan for video rows: one output row per sampled
    frame index (sequence + explode, JVM-side)."""
    v = media.filter(F.col("meta.media_type") == "video")
    return v.select(
        "media_ref",
        F.explode(
            F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(every))
        ).alias("frame_idx"),
    )


_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_h", T.IntegerType()),
        T.StructField("frame_w", T.IntegerType()),
        T.StructField("frame_png", T.BinaryType()),
    ]
)


def sample_frames_decode(media: DataFrame, every: int = 4) -> DataFrame:
    """REAL frame sampling for MJPEG-AVI payloads: walk the RIFF
    container (skipped frames are never JPEG-decoded — pointer math
    only), decode every ``every``-th frame, re-emit it as a lossless
    PNG so sampled frames compose with the image/chip pipeline.
    Non-AVI rows produce no frames (the planning-only
    :func:`sample_frames` covers metadata-level sampling for stub
    formats). Arrow-batched mapInPandas; payloads never visit the
    driver."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, payload in zip(pdf["media_ref"].values, pdf["payload"].values):
                payload = bytes(payload)
                if codecs.sniff(payload) != "avi":
                    continue
                try:
                    mine = [
                        (
                            ref,
                            i,
                            frame.shape[0],
                            frame.shape[1],
                            codecs.png_encode(frame),
                        )
                        for i, chunk in avi.avi_iter_frame_chunks(payload)
                        if i % every == 0
                        for frame in (jpeg.jpeg_decode(chunk),)
                    ]
                except (ValueError, KeyError, IndexError,
                        struct.error, zlib.error):
                    # corrupt container/frame: emit NO frames for this
                    # payload rather than crashing the executor task
                    continue
                rows.extend(mine)
            yield pd.DataFrame(
                rows,
                columns=["media_ref", "frame_idx", "frame_h", "frame_w", "frame_png"],
            )

    return media.mapInPandas(run, _FRAMES_SCHEMA)
