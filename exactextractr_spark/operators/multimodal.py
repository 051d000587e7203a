"""Multimodal columns: opaque binary payloads + typed metadata.

Image/audio/video travel as ``binary`` columns with typed metadata
(w, h, fmt, caption — the BASELINE.json input shape). The Spark-side
plumbing (schema, partitioning, Arrow batch shape, UDF signatures) is real
and tested; PNG decode (core/png.py), baseline+progressive JPEG decode
(core/jpeg.py), lossless WebP/VP8L decode (core/webp.py) and WAV-PCM
decode are fully real. Decoders for formats whose codecs aren't
implementable here (lossy webp/VP8, compressed audio, video) are stubbed
behind ``NotImplementedError`` with a deterministic fake available for
pipeline testing.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.png import decode_tile, phash64

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("mean_px", T.DoubleType()),
        T.StructField("std_px", T.DoubleType()),
        T.StructField("phash", T.LongType()),
        T.StructField("thumb8", T.ArrayType(T.DoubleType())),
    ]
)


def _decode_any(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    """Dispatch by format. PNG (our float-packed tiles), baseline +
    progressive JPEG (core/jpeg.py), and lossless WebP (core/webp.py,
    VP8L) decode for real; color images reduce to BT.601 luma so every
    decoder returns one (h, w) plane. Lossy-WebP/video codecs are not
    available in this container."""
    if fmt == "png":
        return decode_tile(data, w, h)
    if fmt in ("jpeg", "jpg"):
        from ..core.jpeg import decode_jpeg

        px = decode_jpeg(data)
        if px.ndim == 3:
            px = 0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
        return px
    if fmt == "webp":
        from ..core.webp import decode_webp

        rgba = decode_webp(data).astype(np.float64)
        return (
            0.299 * rgba[..., 0] + 0.587 * rgba[..., 1] + 0.114 * rgba[..., 2]
        )
    if fmt == "fake":
        # deterministic fake decode: pixels from the payload hash, so the
        # pipeline shape (batching, schema, feature extraction) is testable
        seed = int.from_bytes(hashlib.sha256(data).digest()[:8], "little")
        rng = np.random.default_rng(seed)
        return rng.uniform(0, 255, (h, w))
    raise NotImplementedError(
        f"decoder for {fmt!r} not available in this environment; "
        "'png', 'jpeg' (baseline+progressive), and lossless 'webp' "
        "decode for real, 'fake' is a deterministic stub"
    )


def image_features(images: DataFrame) -> DataFrame:
    """Decode → feature-extract (mean/std, perceptual hash, 8x8 thumbnail)
    in one Arrow-batched pass. Input: the image table shape
    (image_id, bytes, w, h, fmt, ...)."""

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, data, w, h, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"]
            ):
                px = _decode_any(bytes(data), str(fmt), int(w), int(h))
                finite = px[~np.isnan(px)]
                # 8x8 block-mean thumbnail (resize stub, pure numpy)
                ph, pw = (-px.shape[0]) % 8, (-px.shape[1]) % 8
                padded = np.pad(
                    np.nan_to_num(px), ((0, ph), (0, pw)), mode="edge"
                )
                th = padded.reshape(
                    8, padded.shape[0] // 8, 8, padded.shape[1] // 8
                ).mean(axis=(1, 3))
                rows.append(
                    {
                        "image_id": iid,
                        "h": int(h),
                        "w": int(w),
                        "mean_px": float(finite.mean()) if len(finite) else float("nan"),
                        "std_px": float(finite.std()) if len(finite) else float("nan"),
                        "phash": phash64(px),
                        "thumb8": th.ravel(),
                    }
                )
            yield pd.DataFrame(rows)

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        _feat, FEATURES_SCHEMA
    )


def _decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Minimal RIFF/WAVE PCM decoder in pure numpy (no codec library):
    supports PCM16/PCM8 and IEEE float32, mono or multi-channel (averaged
    to mono). Returns (samples as float64 in [-1, 1], sample_rate)."""
    if len(data) < 44 or data[0:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt_code = n_channels = sample_rate = bits = None
    samples = None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        size = int.from_bytes(data[pos + 4 : pos + 8], "little")
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_code = int.from_bytes(body[0:2], "little")
            n_channels = int.from_bytes(body[2:4], "little")
            sample_rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif cid == b"data":
            if fmt_code is None:
                raise ValueError("WAVE data chunk before fmt chunk")
            if fmt_code == 1 and bits == 16:
                samples = np.frombuffer(body, dtype="<i2").astype(np.float64) / 32768.0
            elif fmt_code == 1 and bits == 8:
                samples = (
                    np.frombuffer(body, dtype=np.uint8).astype(np.float64) - 128.0
                ) / 128.0
            elif fmt_code == 3 and bits == 32:
                samples = np.frombuffer(body, dtype="<f4").astype(np.float64)
            else:
                raise NotImplementedError(
                    f"WAVE format code {fmt_code} / {bits}-bit not supported"
                )
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if samples is None or not sample_rate:
        raise ValueError("no data chunk in WAVE payload")
    if n_channels and n_channels > 1:
        usable = (samples.shape[0] // n_channels) * n_channels
        samples = samples[:usable].reshape(-1, n_channels).mean(axis=1)
    return samples, int(sample_rate)


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("zcr", T.DoubleType()),
    ]
)


def audio_features(audio: DataFrame, *, id_col: str = "image_id") -> DataFrame:
    """Waveform feature extraction over binary audio payloads in one
    Arrow-batched pass: duration / RMS / peak / zero-crossing rate.
    WAV-PCM decodes FOR REAL (pure numpy RIFF parser — no codec library);
    compressed formats (mp3/ogg/flac) raise NotImplementedError since no
    codec exists in this container. Input shape: (id, bytes, fmt)."""

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, data, fmt in zip(pdf[id_col], pdf["bytes"], pdf["fmt"]):
                fmt = str(fmt)
                if fmt == "wav":
                    s, sr = _decode_wav(bytes(data))
                else:
                    raise NotImplementedError(
                        f"audio decoder for {fmt!r} not available in this "
                        "environment; only 'wav' (PCM/float, real) is supported"
                    )
                n = s.shape[0]
                zc = float(np.count_nonzero(np.signbit(s[1:]) != np.signbit(s[:-1])))
                rows.append(
                    {
                        "audio_id": aid,
                        "sample_rate": sr,
                        "n_samples": n,
                        "duration_s": n / sr if sr else float("nan"),
                        "rms": float(np.sqrt(np.mean(s * s))) if n else float("nan"),
                        "peak": float(np.abs(s).max()) if n else float("nan"),
                        "zcr": zc / (n - 1) if n > 1 else 0.0,
                    }
                )
            yield pd.DataFrame(rows)

    return audio.select(
        F.col(id_col), F.col("bytes"), F.col("fmt")
    ).mapInPandas(_feat, AUDIO_SCHEMA)


def _bilinear_resize(px: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Pure-numpy bilinear resample (align_corners=False convention)."""
    in_h, in_w = px.shape
    ys = (np.arange(out_h) + 0.5) * in_h / out_h - 0.5
    xs = (np.arange(out_w) + 0.5) * in_w / out_w - 0.5
    y0 = np.clip(np.floor(ys).astype(np.int64), 0, in_h - 1)
    x0 = np.clip(np.floor(xs).astype(np.int64), 0, in_w - 1)
    y1 = np.minimum(y0 + 1, in_h - 1)
    x1 = np.minimum(x0 + 1, in_w - 1)
    wy = np.clip(ys - y0, 0.0, 1.0)[:, None]
    wx = np.clip(xs - x0, 0.0, 1.0)[None, :]
    top = px[y0][:, x0] * (1 - wx) + px[y0][:, x1] * wx
    bot = px[y1][:, x0] * (1 - wx) + px[y1][:, x1] * wx
    return top * (1 - wy) + bot * wy


def image_resize(
    images: DataFrame, out_w: int, out_h: int
) -> DataFrame:
    """Decode → bilinear resize → re-encode, one Arrow pass: the standard
    multimodal preprocessing step (thumbnailing for a vision encoder).
    Real end-to-end for PNG payloads; emits the same image-table shape so
    resized tables compose with every downstream operator."""
    from ..core.png import encode_tile

    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("bytes", T.BinaryType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("fmt", T.StringType()),
        ]
    )

    def _rs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, data, w, h, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"]
            ):
                px = _decode_any(bytes(data), str(fmt), int(w), int(h))
                out = _bilinear_resize(np.nan_to_num(px), out_h, out_w)
                rows.append(
                    {
                        "image_id": iid,
                        "bytes": encode_tile(out),
                        "w": out_w,
                        "h": out_h,
                        "fmt": "png",
                    }
                )
            yield pd.DataFrame(rows)

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        _rs, schema
    )


_AUG_OPS = ("hflip", "vflip", "rot90", "rot180", "rot270", "transpose")


def image_augment(images: DataFrame, ops: "list[str]") -> DataFrame:
    """Decode → deterministic geometric augmentations → re-encode, one
    Arrow-batched pass: the vision-training fan-out (each input image yields
    one output row per op, ``image_id`` suffixed ``#<op>``). All ops are
    pure index permutations (no interpolation), so augmented pixels are
    bit-exact rearrangements of the source — independently verifiable by
    index algebra. Emits the image-table shape (id, bytes, w, h, fmt) so
    augmented tables compose with every downstream operator. rot90/rot270
    follow numpy's counter-clockwise convention; w/h swap for the
    quarter-turn and transpose ops."""
    from ..core.png import encode_tile

    bad = [o for o in ops if o not in _AUG_OPS]
    if bad:
        raise ValueError(f"unknown augment op(s) {bad}; supported: {_AUG_OPS}")
    if not ops:
        raise ValueError("ops must name at least one augmentation")

    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("bytes", T.BinaryType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("fmt", T.StringType()),
        ]
    )
    ops = list(ops)

    def _apply(px: np.ndarray, op: str) -> np.ndarray:
        if op == "hflip":
            return px[:, ::-1]
        if op == "vflip":
            return px[::-1]
        if op == "rot90":
            return np.rot90(px, 1)
        if op == "rot180":
            return np.rot90(px, 2)
        if op == "rot270":
            return np.rot90(px, 3)
        return px.T  # transpose

    def _aug(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, data, w, h, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"]
            ):
                px = _decode_any(bytes(data), str(fmt), int(w), int(h))
                for op in ops:
                    out = np.ascontiguousarray(_apply(px, op))
                    rows.append(
                        {
                            "image_id": f"{iid}#{op}",
                            "bytes": encode_tile(out),
                            "w": out.shape[1],
                            "h": out.shape[0],
                            "fmt": "png",
                        }
                    )
            yield pd.DataFrame(rows)

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        _aug, schema
    )
