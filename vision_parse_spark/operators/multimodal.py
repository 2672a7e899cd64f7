"""Multimodal column plumbing: opaque ``binary`` payloads + typed
metadata, processed with Arrow-batched ``mapInPandas``.

Training-data-pipeline addition.  Design at 100 TB: media bytes live
in a ``binary`` column (or object-store pointers), metadata in a typed
struct; decode/feature ops run per Arrow batch on executors, bounded
by ``arrow.maxRecordsPerBatch`` so one batch of decoded frames fits in
memory.

Real here (stdlib/numpy only):
* PNG decode with FULL scanline unfiltering (None/Sub/Up/Average/
  Paeth; 8-bit gray/RGB/RGBA) — arbitrary external non-interlaced
  8-bit PNGs decode, plus our own encoder's output,
* PCM WAV decode (RIFF parse, 8/16-bit) + audio features (duration,
  RMS, peak, zero-crossing rate),
* image feature extraction (per-channel mean/std/histogram),
* nearest-neighbor resize,
* deterministic frame sampling over a concatenated-frames "video".

* baseline JPEG decode (pure-Python/numpy codec, functions/jpeg.py —
  real since round 3, progressive SOF2 since round 4;
  hierarchical/arithmetic still raise).

STUBBED (libs not in this container, Spark plumbing still real):
* WebP decode, compressed-audio decode -> ``NotImplementedError``
  with a clear message; gate callers on ``codec`` metadata.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from ..functions.jpeg import decode_jpeg
from .images import encode_png, render_page

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),     # image|video|audio
        StructField("codec", StringType(), False),    # png|jpeg|raw-frames|pcm
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_frames", IntegerType(), True),
        StructField("payload", BinaryType(), True),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("mean_rgb", ArrayType(DoubleType()), True),
        StructField("std_rgb", ArrayType(DoubleType()), True),
        StructField("hist16", ArrayType(LongType()), True),
        StructField("status", StringType(), True),
        StructField("error", StringType(), True),
    ]
)


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """PNG Paeth predictor, vectorized across a scanline."""
    p = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a,
                    np.where(pb <= pc, b, c)).astype(np.uint8)


def decode_png(png: bytes) -> np.ndarray:
    """PNG decoder for 8-bit grayscale / RGB / RGBA images with FULL
    scanline unfiltering (filter types 0 None, 1 Sub, 2 Up, 3 Average,
    4 Paeth — PNG spec §9), so arbitrary externally-produced
    non-interlaced 8-bit PNGs decode, not just our own encoder's
    filter-0 output.  Palette, 16-bit, and interlaced PNGs raise."""
    if png[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, w, h, depth, ctype, interlace = 8, 0, 0, 0, 0, 0
    idat = b""
    while pos < len(png):
        (length,) = struct.unpack(">I", png[pos : pos + 4])
        tag = png[pos + 4 : pos + 8]
        data = png[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", data[:10])
            interlace = data[12]
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        pos += 12 + length
    channels = {0: 1, 2: 3, 6: 4}.get(ctype)
    if depth != 8 or channels is None or interlace != 0:
        raise NotImplementedError(
            f"unsupported PNG shape (depth={depth} ctype={ctype} "
            f"interlace={interlace}); 8-bit gray/RGB/RGBA only"
        )
    raw = zlib.decompress(idat)
    stride = w * channels
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + stride)
    filters = rows[:, 0]
    img = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    ch = channels
    for i in range(h):
        cur = rows[i, 1:].copy()
        ft = int(filters[i])
        if ft == 0:
            rec = cur
        elif ft == 1:  # Sub: grouped running sum mod 256 along x
            rec = np.cumsum(
                cur.reshape(w, ch).astype(np.uint64), axis=0
            ).astype(np.uint8).reshape(stride)
        elif ft == 2:  # Up
            rec = cur + prev
        elif ft == 3:  # Average — sequential in x (left neighbor dep)
            rec = cur
            left = np.zeros(ch, dtype=np.uint16)
            up = prev.reshape(w, ch).astype(np.uint16)
            r2 = rec.reshape(w, ch)
            for x in range(w):
                left = (r2[x] + ((left + up[x]) >> 1)).astype(np.uint8) \
                    .astype(np.uint16)
                r2[x] = left.astype(np.uint8)
            rec = r2.reshape(stride).astype(np.uint8)
        elif ft == 4:  # Paeth — sequential in x
            rec = cur
            r2 = rec.reshape(w, ch)
            up = prev.reshape(w, ch)
            left = np.zeros(ch, dtype=np.uint8)
            ul = np.zeros(ch, dtype=np.uint8)
            for x in range(w):
                pred = _paeth(left, up[x], ul)
                r2[x] = r2[x] + pred
                left, ul = r2[x], up[x]
            rec = r2.reshape(stride)
        else:
            raise NotImplementedError(f"PNG filter type {ft}")
        img[i] = rec
        prev = img[i]
    out = img.reshape(h, w, ch)
    return out[:, :, 0] if ch == 1 else out


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM decoder (8-bit unsigned / 16-bit signed ints),
    stdlib struct only.  Returns (samples float32 in [-1, 1] shaped
    (n, channels), sample_rate)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    pcm = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + length]
        if tag == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif tag == b"data":
            pcm = body
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if fmt is None or pcm is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_ch, rate, _byte_rate, _align, bits = fmt
    if audio_format != 1:
        raise NotImplementedError(f"non-PCM WAV (format={audio_format})")
    if bits == 16:
        x = np.frombuffer(pcm, dtype="<i2").astype(np.float32) / 32768.0
    elif bits == 8:
        x = (np.frombuffer(pcm, dtype=np.uint8).astype(np.float32)
             - 128.0) / 128.0
    else:
        raise NotImplementedError(f"{bits}-bit PCM unsupported")
    n = len(x) // n_ch
    return x[: n * n_ch].reshape(n, n_ch), rate


def decode_audio(data: bytes) -> tuple[np.ndarray, int]:
    """Audio decode: PCM WAV is real (stdlib); compressed codecs need
    libraries not present in this environment."""
    if data[:4] == b"RIFF":
        return decode_wav(data)
    raise NotImplementedError(
        "compressed-audio decode requires an audio library not present "
        "in this environment; plug a decoder in here (schema/batching "
        "unchanged)"
    )


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize (pure numpy indexing)."""
    h, w = img.shape[:2]
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[ys[:, None], xs[None, :]]


def sample_frames(payload: bytes, h: int, w: int, n_frames: int,
                  every: int) -> list[np.ndarray]:
    """Deterministic frame sampling over a raw-frames 'video' payload
    (concatenated h*w*3 frames): frames 0, every, 2*every, ..."""
    frame_bytes = h * w * 3
    out = []
    for i in range(0, n_frames, every):
        chunk = payload[i * frame_bytes : (i + 1) * frame_bytes]
        if len(chunk) < frame_bytes:
            break
        out.append(np.frombuffer(chunk, dtype=np.uint8).reshape(h, w, 3))
    return out


def image_features(media: DataFrame, hist_bins: int = 16) -> DataFrame:
    """Decode PNG payloads and emit per-image features — the canonical
    binary-column mapInPandas stage (decode is per-entity; everything
    after is numpy)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, codec, payload in zip(
                pdf["media_id"], pdf["codec"], pdf["payload"]
            ):
                row = {
                    "media_id": int(mid), "width": None, "height": None,
                    "mean_rgb": None, "std_rgb": None, "hist16": None,
                    "status": "ok", "error": None,
                }
                try:
                    if codec == "png":
                        img = decode_png(bytes(payload))
                    elif codec == "jpeg":
                        img = decode_jpeg(bytes(payload))
                    else:
                        raise NotImplementedError(f"codec {codec}")
                    if img.ndim == 2:  # grayscale -> replicate channels
                        img = np.repeat(img[:, :, None], 3, axis=2)
                    elif img.shape[2] == 4:  # RGBA -> drop alpha
                        img = img[:, :, :3]
                    row["height"], row["width"] = img.shape[:2]
                    flat = img.reshape(-1, 3).astype(np.float64)
                    row["mean_rgb"] = [float(x) for x in flat.mean(axis=0)]
                    row["std_rgb"] = [float(x) for x in flat.std(axis=0)]
                    hist, _ = np.histogram(img, bins=hist_bins, range=(0, 256))
                    row["hist16"] = [int(x) for x in hist]
                except Exception as e:  # error-as-data, poison-row safe
                    row["status"] = "error"
                    row["error"] = f"{type(e).__name__}: {e}"
                rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              IMAGE_FEATURES_SCHEMA.fields])

    return media.select("media_id", "codec", "payload").mapInPandas(
        run, schema=IMAGE_FEATURES_SCHEMA
    )


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_samples", LongType(), True),
        StructField("n_channels", IntegerType(), True),
        StructField("duration_sec", DoubleType(), True),
        StructField("rms", DoubleType(), True),
        StructField("peak", DoubleType(), True),
        StructField("zero_cross_rate", DoubleType(), True),
        StructField("status", StringType(), True),
        StructField("error", StringType(), True),
    ]
)


def audio_features(media: DataFrame) -> DataFrame:
    """Decode PCM-WAV payloads and emit per-clip features (duration,
    RMS, peak, zero-crossing rate) — the audio twin of
    ``image_features``; same error-as-data contract."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                row = {
                    "media_id": int(mid), "sample_rate": None,
                    "n_samples": None, "n_channels": None,
                    "duration_sec": None, "rms": None, "peak": None,
                    "zero_cross_rate": None, "status": "ok", "error": None,
                }
                try:
                    x, rate = decode_audio(bytes(payload))
                    mono = x.mean(axis=1)
                    row["sample_rate"] = int(rate)
                    row["n_samples"] = int(x.shape[0])
                    row["n_channels"] = int(x.shape[1])
                    row["duration_sec"] = float(x.shape[0] / rate)
                    row["rms"] = float(np.sqrt((mono ** 2).mean()))
                    row["peak"] = float(np.abs(x).max())
                    row["zero_cross_rate"] = float(
                        (np.diff(np.signbit(mono)) != 0).mean()
                    )
                except Exception as e:
                    row["status"] = "error"
                    row["error"] = f"{type(e).__name__}: {e}"
                rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              AUDIO_FEATURES_SCHEMA.fields])

    return media.select("media_id", "payload").mapInPandas(
        run, schema=AUDIO_FEATURES_SCHEMA
    )


VIDEO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_frames", IntegerType(), True),
        StructField("n_sampled", IntegerType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("mean_luma", DoubleType(), True),
        StructField("motion", DoubleType(), True),
        StructField("status", StringType(), True),
        StructField("error", StringType(), True),
    ]
)


def video_features(media: DataFrame, every: int = 3) -> DataFrame:
    """Frame-sampled features over raw-frames video payloads: mean
    luma and MOTION (mean abs luma delta between consecutive sampled
    frames — the cheap scene-activity proxy a curation pipeline
    filters on).  Same error-as-data contract as image/audio
    features; decode is per-entity inside the Arrow batch."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload, h, w, nf in zip(
                pdf["media_id"], pdf["payload"], pdf["height"],
                pdf["width"], pdf["n_frames"],
            ):
                row = {
                    "media_id": int(mid), "n_frames": None,
                    "n_sampled": None, "width": None, "height": None,
                    "mean_luma": None, "motion": None,
                    "status": "ok", "error": None,
                }
                try:
                    frames = sample_frames(bytes(payload), int(h), int(w),
                                           int(nf), every=every)
                    if not frames:
                        raise ValueError("no frames")
                    lumas = [f.astype(np.float64).mean(axis=2)
                             for f in frames]
                    row["n_frames"] = int(nf)
                    row["n_sampled"] = len(frames)
                    row["height"], row["width"] = frames[0].shape[:2]
                    row["mean_luma"] = float(np.mean(lumas))
                    row["motion"] = float(np.mean([
                        np.abs(lumas[i + 1] - lumas[i]).mean()
                        for i in range(len(lumas) - 1)
                    ])) if len(lumas) > 1 else 0.0
                except Exception as e:
                    row["status"] = "error"
                    row["error"] = f"{type(e).__name__}: {e}"
                rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              VIDEO_FEATURES_SCHEMA.fields])

    return media.select("media_id", "payload", "height", "width",
                        "n_frames").mapInPandas(
        run, schema=VIDEO_FEATURES_SCHEMA
    )


def make_wav_bytes(samples: np.ndarray, rate: int = 16000) -> bytes:
    """16-bit PCM RIFF/WAVE writer (tests + synth): samples float in
    [-1, 1], shape (n,) or (n, channels)."""
    if samples.ndim == 1:
        samples = samples[:, None]
    pcm = np.clip(samples * 32767.0, -32768, 32767) \
        .astype("<i2").tobytes()
    n_ch = samples.shape[1]
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * n_ch * 2,
                      n_ch * 2, 16)
    body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm)) + pcm)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def synth_media(spark, n: int, partitions: int = 4) -> DataFrame:
    """Deterministic synthetic media table: PNG images (real bytes via
    our encoder), one raw-frames video, one stubbed-codec row."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                if i % 7 == 6:
                    kind, codec = "image", "jpeg"  # real baseline JPEG
                    from ..functions.jpeg import encode_jpeg

                    page = render_page(100 + i % 50, 100 + i % 70,
                                       seed=i)
                    h, w = page.shape[:2]
                    nf = None
                    payload = encode_jpeg(page, quality=85,
                                          subsample=(i % 2 == 0))
                elif i % 7 == 5:
                    kind, codec = "video", "raw-frames"
                    h, w, nf = 8, 8, 12
                    rng = np.random.default_rng(i)
                    payload = rng.integers(
                        0, 255, size=(nf * h * w * 3), dtype=np.int64
                    ).astype(np.uint8).tobytes()
                elif i % 7 == 4:
                    kind, codec = "audio", "wav"
                    w = h = 0
                    nf = None
                    t = np.arange(1600, dtype=np.float64) / 16000.0
                    payload = make_wav_bytes(
                        0.5 * np.sin(2 * np.pi * (200 + 50 * i) * t)
                        .astype(np.float32))
                else:
                    kind, codec = "image", "png"
                    page = render_page(110 + i % 40, 110 + i % 60, seed=i)
                    h, w = page.shape[:2]
                    nf = 1
                    payload = encode_png(page[..., ::-1])
                rows.append(
                    {"media_id": i, "kind": kind, "codec": codec,
                     "width": w, "height": h, "n_frames": nf,
                     "payload": payload}
                )
            yield pd.DataFrame(rows,
                               columns=[f.name for f in MEDIA_SCHEMA.fields])

    return spark.range(0, n, 1, partitions).mapInPandas(gen, MEDIA_SCHEMA)
