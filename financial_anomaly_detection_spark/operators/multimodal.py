"""Multimodal column support (north-star extension, SURVEY.md §2.10).

Media assets are opaque ``binary`` columns plus a typed metadata
struct; decode / feature-extract run as Arrow ``mapInPandas`` stages so
payload bytes never transit the driver and batches stay columnar.

Decoder tiers, best available wins, every row tagged with the tier
that produced it:

1. ``pil`` — native codec libraries when installed (C-speed; absent in
   this container).
2. ``png-purepy`` / ``wav-stdlib`` — REAL decodes via the pure-stdlib
   codecs in :mod:`.codecs` (zlib chunk inflate + unfilter per the
   public PNG spec; RIFF PCM via ``wave``). No fake numbers: width,
   height, channels, intensities and audio stats come from the actual
   pixels/samples.
3. ``stub`` — deterministic digest-derived pseudo-features, only for
   payloads no available decoder understands (e.g. compressed video
   codecs). Clearly tagged so downstream can filter or audit.

Video is REAL for uncompressed-DIB AVI since round 4 (from-scratch
RIFF container parser in :mod:`.codecs`); compressed codecs (H.264
etc.) still fall to the tagged stub — no stdlib decoder exists.

At 100 TB the shape is unchanged: binary columns in parquet, decode as
a mapInPandas stage after a repartition sized so one Arrow batch of
payloads fits executor memory, features written back columnar.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .codecs import (
    PNG_SIGNATURE,
    decode_avi,
    decode_png,
    decode_wav,
    encode_avi,
    encode_png,
    encode_wav,
)
from .partitioning import spread_narrow

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
        T.StructField("feature_vec", T.ArrayType(T.FloatType())),
        T.StructField("decoder", T.StringType()),  # 'pil' | 'png-purepy' | 'jpeg-purepy' | 'stub'
    ]
)

VIDEO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("fps", T.DoubleType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("mean_intensity", T.DoubleType()),
        T.StructField("motion_score", T.DoubleType()),   # mean |frame delta|
        T.StructField("sampled_means", T.ArrayType(T.FloatType())),
        T.StructField("decoder", T.StringType()),  # 'avi-purepy' | 'stub'
    ]
)

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("zero_cross_rate", T.DoubleType()),
        T.StructField("dominant_freq_hz", T.DoubleType()),
        T.StructField("decoder", T.StringType()),  # 'wav-stdlib' | 'stub'
    ]
)


def _media_meta(payload: F.Column, media_type: str, fmt: str) -> F.Column:
    return F.struct(
        F.lit(media_type).alias("media_type"),
        F.lit(fmt).alias("format"),
        F.length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("checksum"),
    )


def attach_fake_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Demo payload builder: wraps each document's text bytes as an
    opaque binary column + metadata struct (an undecodable payload —
    exercises the stub tier)."""
    payload = F.encode(F.col(text_col), "UTF-8").cast("binary")
    return df.select(
        F.col(id_col),
        payload.alias("payload"),
        _media_meta(payload, "image", "fake").alias("media_meta"),
    )


def attach_png_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL deterministic PNG payload per row.

    The image content is a pure function of the id (gradient plus
    id-keyed offsets — no RNG), so any engine/run/retry produces
    byte-identical payloads and the decode stage is fully testable
    without external assets.
    """

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf[id_col]:
                i = int(doc_id)
                h, w = 16 + i % 9, 16 + (i // 9) % 9
                yy, xx = np.mgrid[0:h, 0:w]
                img = np.stack(
                    [(xx * 3 + yy * 5 + i * 7 + c * 11) % 256 for c in range(3)],
                    axis=2,
                ).astype(np.uint8)
                rows.append((i, encode_png(img)))
            yield pd.DataFrame(rows, columns=[id_col, "payload"])

    gen_schema = T.StructType(
        [T.StructField(id_col, T.LongType()), T.StructField("payload", T.BinaryType())]
    )
    out = spread_narrow(df.select(F.col(id_col))).mapInPandas(_gen, schema=gen_schema)
    return out.select(
        id_col,
        "payload",
        _media_meta(F.col("payload"), "image", "png").alias("media_meta"),
    )


def attach_jpeg_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL deterministic baseline-JPEG payload per row
    (from-scratch T.81 encoder, operators/codecs.py) — smooth
    id-keyed gradients (the content JPEG represents faithfully),
    alternating 4:4:4 and 4:2:0 sampling by id parity so both decoder
    MCU layouts are exercised in every batch."""
    from .codecs import encode_jpeg

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf[id_col]:
                i = int(doc_id)
                h, w = 16 + i % 9, 16 + (i // 9) % 9
                yy, xx = np.mgrid[0:h, 0:w]
                img = np.stack(
                    [
                        np.clip(xx * 2 + (i * 7) % 97, 0, 255),
                        np.clip(yy * 3 + (i * 5) % 83, 0, 255),
                        np.clip((xx + yy) + (i * 3) % 71, 0, 255),
                    ],
                    axis=2,
                ).astype(np.uint8)
                rows.append(
                    (i, encode_jpeg(img, quant=4, subsample_420=bool(i % 2)))
                )
            yield pd.DataFrame(rows, columns=[id_col, "payload"])

    gen_schema = T.StructType(
        [T.StructField(id_col, T.LongType()), T.StructField("payload", T.BinaryType())]
    )
    out = spread_narrow(df.select(F.col(id_col))).mapInPandas(_gen, schema=gen_schema)
    return out.select(
        id_col,
        "payload",
        _media_meta(F.col("payload"), "image", "jpeg").alias("media_meta"),
    )


def attach_wav_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL deterministic WAV payload per row: a 1/8-second
    16 kHz sine whose frequency is keyed by the id."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf[id_col]:
                i = int(doc_id)
                freq = 220.0 + (i % 220)
                t = np.arange(2000) / 16000.0
                wave_s = (np.sin(2 * np.pi * freq * t) * 12000).astype(np.int16)
                rows.append((i, encode_wav(wave_s, 16000)))
            yield pd.DataFrame(rows, columns=[id_col, "payload"])

    gen_schema = T.StructType(
        [T.StructField(id_col, T.LongType()), T.StructField("payload", T.BinaryType())]
    )
    out = spread_narrow(df.select(F.col(id_col))).mapInPandas(_gen, schema=gen_schema)
    return out.select(
        id_col,
        "payload",
        _media_meta(F.col("payload"), "audio", "wav").alias("media_meta"),
    )


def decode_image_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    feature_dim: int = 16,
) -> DataFrame:
    """Decode + feature-extract over the binary column via mapInPandas.

    Tier order per row: PIL (if installed) → pure-stdlib PNG decoder →
    digest stub for undecodable payloads. The feature vector is the
    row-mean intensity profile resampled to ``feature_dim`` (decoded
    tiers) — a stand-in for a real embedding model's output shape.
    """

    def _features(img: np.ndarray) -> tuple[int, int, int, float, list[float]]:
        arr = np.asarray(img, dtype=float)
        h, w = arr.shape[:2]
        ch = 1 if arr.ndim == 2 else arr.shape[2]
        mean_i = float(arr.mean())
        profile = arr.mean(axis=tuple(range(1, arr.ndim)))  # per-row mean
        idx = np.linspace(0, len(profile) - 1, feature_dim)
        vec = [float(profile[int(round(j))]) / 255.0 for j in idx]
        return w, h, ch, mean_i, vec

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:  # pragma: no cover - native codec libs absent in this container
            from PIL import Image
            import io as _io

            have_pil = True
        except ImportError:
            have_pil = False

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload)
                if have_pil:  # pragma: no cover
                    try:
                        img = np.asarray(Image.open(_io.BytesIO(raw)))
                        w, h, ch, mean_i, vec = _features(img)
                        out.append((doc_id, w, h, ch, mean_i, vec, "pil"))
                        continue
                    except Exception:
                        pass
                if raw[:8] == PNG_SIGNATURE:
                    try:
                        img = decode_png(raw)
                        w, h, ch, mean_i, vec = _features(img)
                        out.append((doc_id, w, h, ch, mean_i, vec, "png-purepy"))
                        continue
                    except Exception:
                        # unsupported variant OR corrupt bytes (truncated
                        # IDAT raises zlib/struct errors, not just
                        # ValueError) -> per-record stub, never a dead task
                        pass
                if raw[:2] == b"\xff\xd8":
                    try:
                        from .codecs import decode_jpeg

                        img = decode_jpeg(raw)
                        w, h, ch, mean_i, vec = _features(img)
                        out.append((doc_id, w, h, ch, mean_i, vec, "jpeg-purepy"))
                        continue
                    except Exception:
                        # progressive/arithmetic modes or corrupt entropy
                        # data -> per-record stub, never a dead task
                        pass
                # STUB: deterministic pseudo-decode from the digest —
                # NOT a real decode; tagged so downstream can tell.
                digest = hashlib.md5(raw).digest()
                w = 64 + digest[0] % 192
                h = 64 + digest[1] % 192
                mean_i = digest[2] / 2.0
                vec = [float(b) / 255.0 for b in digest[:feature_dim]]
                vec += [0.0] * (feature_dim - len(vec))
                out.append((doc_id, w, h, 3, mean_i, vec, "stub"))
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "width", "height", "channels",
                    "mean_intensity", "feature_vec", "decoder",
                ],
            )

    return spread_narrow(df.select(F.col(id_col), F.col(payload_col))).mapInPandas(
        _decode, schema=IMAGE_FEATURES_SCHEMA
    )


def decode_audio_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Audio decode + signal stats via mapInPandas.

    WAV payloads decode for real (stdlib ``wave``); anything else gets
    the tagged digest stub. Dominant frequency comes from an rFFT over
    the first channel — numpy only, per-batch vectorizable.
    """

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload)
                try:
                    from .codecs import wav_format_tag

                    tag = wav_format_tag(raw)
                    tier = {6: "wav-alaw-purepy", 7: "wav-mulaw-purepy"}.get(
                        tag, "wav-stdlib"
                    )
                    rate, samples = decode_wav(raw)
                    mono = samples[:, 0].astype(float)
                    n = len(mono)
                    rms = float(np.sqrt(np.mean(mono**2))) if n else 0.0
                    zc = (
                        float(np.mean(np.abs(np.diff(np.signbit(mono)))))
                        if n > 1
                        else 0.0
                    )
                    if n:
                        spec = np.abs(np.fft.rfft(mono))
                        dom = float(np.fft.rfftfreq(n, 1.0 / rate)[int(spec.argmax())])
                    else:
                        dom = 0.0
                    out.append((doc_id, rate, n, n / rate, rms, zc, dom, tier))
                    continue
                except Exception:
                    pass
                digest = hashlib.md5(raw).digest()
                out.append(
                    (
                        doc_id, 16000, 0, 0.0,
                        float(digest[0]), digest[1] / 255.0, float(digest[2]),
                        "stub",
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "sample_rate", "n_samples", "duration_sec",
                    "rms", "zero_cross_rate", "dominant_freq_hz", "decoder",
                ],
            )

    return spread_narrow(df.select(F.col(id_col), F.col(payload_col))).mapInPandas(
        _decode, schema=AUDIO_FEATURES_SCHEMA
    )


def attach_g711_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL compressed G.711 WAV payload per row (mu-law for
    even ids, A-law for odd — both expansion paths run every batch):
    a 1/8-second 8 kHz sine whose frequency is keyed by the id,
    companded through the from-scratch ITU-T G.711 encoder."""
    from .codecs import encode_wav_g711

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf[id_col]:
                i = int(doc_id)
                rate = 8000
                freq = 200 + (i % 17) * 100
                t = np.arange(rate // 8)
                sig = (8000 * np.sin(2 * np.pi * freq * t / rate)).astype(np.int16)
                law = "mu" if i % 2 == 0 else "a"
                rows.append((i, encode_wav_g711(sig, rate, law)))
            yield pd.DataFrame(rows, columns=[id_col, "payload"])

    gen_schema = T.StructType(
        [T.StructField(id_col, T.LongType()), T.StructField("payload", T.BinaryType())]
    )
    out = spread_narrow(df.select(F.col(id_col))).mapInPandas(_gen, schema=gen_schema)
    return out.select(
        id_col,
        "payload",
        _media_meta(F.col("payload"), "audio", "wav-g711").alias("media_meta"),
    )


def attach_avi_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL deterministic AVI payload per row: 6 frames of a
    12x16 gradient translating by one pixel per frame (id-keyed phase),
    encoded through the from-scratch RIFF/DIB writer — byte-identical
    across engines/runs/retries, like the PNG/WAV builders."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf[id_col]:
                i = int(doc_id)
                h, w, n = 12, 16, 6
                yy, xx = np.mgrid[0:h, 0:w]
                frames = np.stack(
                    [
                        np.stack(
                            [
                                (xx * 5 + yy * 3 + i * 7 + f * 9 + c * 11) % 256
                                for c in range(3)
                            ],
                            axis=2,
                        )
                        for f in range(n)
                    ]
                ).astype(np.uint8)
                rows.append((i, encode_avi(frames, fps=8.0)))
            yield pd.DataFrame(rows, columns=[id_col, "payload"])

    gen_schema = T.StructType(
        [T.StructField(id_col, T.LongType()), T.StructField("payload", T.BinaryType())]
    )
    out = spread_narrow(df.select(F.col(id_col))).mapInPandas(_gen, schema=gen_schema)
    return out.select(
        id_col,
        "payload",
        _media_meta(F.col("payload"), "video", "avi").alias("media_meta"),
    )


def attach_mjpeg_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL COMPRESSED Motion-JPEG AVI payload per row: 6
    frames of smooth id-keyed gradients (content JPEG carries
    faithfully), each frame a standalone baseline JPEG from the
    from-scratch T.81 encoder inside the RIFF container."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf[id_col]:
                i = int(doc_id)
                h, w, n = 16, 24, 6
                yy, xx = np.mgrid[0:h, 0:w]
                frames = np.stack(
                    [
                        np.stack(
                            [
                                np.clip(xx * 4 + f * 8 + (i * 7) % 97, 0, 255),
                                np.clip(yy * 5 + (i * 5) % 83, 0, 255),
                                np.clip((xx + yy) * 3 + (i * 3) % 71, 0, 255),
                            ],
                            axis=2,
                        )
                        for f in range(n)
                    ]
                ).astype(np.uint8)
                rows.append((i, encode_avi(frames, fps=8.0, codec="MJPG", quant=4)))
            yield pd.DataFrame(rows, columns=[id_col, "payload"])

    gen_schema = T.StructType(
        [T.StructField(id_col, T.LongType()), T.StructField("payload", T.BinaryType())]
    )
    out = spread_narrow(df.select(F.col(id_col))).mapInPandas(_gen, schema=gen_schema)
    return out.select(
        id_col,
        "payload",
        _media_meta(F.col("payload"), "video", "avi-mjpeg").alias("media_meta"),
    )


def decode_video_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    sample_frames: int = 4,
) -> DataFrame:
    """Video decode + frame-sample + feature-extract via mapInPandas.

    Uncompressed-DIB AVI decodes for REAL (pure-stdlib RIFF parser);
    compressed codecs get the tagged digest stub. ``sampled_means`` is
    the per-frame mean intensity at ``sample_frames`` evenly-spaced
    frame indices (the frame-sampling primitive a training pipeline
    feeds to a vision encoder); ``motion_score`` is the mean absolute
    inter-frame delta — a cheap cut/static detector.
    """

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload)
                try:
                    from .codecs import MJPG_FOURCC_U32, avi_compression

                    tier = (
                        "avi-mjpeg-purepy"
                        if avi_compression(raw) == MJPG_FOURCC_U32
                        else "avi-purepy"
                    )
                    fps, frames = decode_avi(raw)
                    n, h, w = frames.shape[:3]
                    arr = frames.astype(np.float64)
                    idx = np.linspace(0, n - 1, min(sample_frames, n))
                    sampled = [
                        float(arr[int(round(j))].mean()) / 255.0 for j in idx
                    ]
                    motion = (
                        float(np.abs(np.diff(arr, axis=0)).mean()) if n > 1 else 0.0
                    )
                    out.append(
                        (
                            doc_id, n, w, h, fps,
                            n / fps if fps else 0.0,
                            float(arr.mean()), motion, sampled, tier,
                        )
                    )
                    continue
                except Exception:
                    # compressed codec OR corrupt container -> per-record
                    # stub, never a dead task (same isolation contract as
                    # the image tier)
                    pass
                digest = hashlib.md5(raw).digest()
                out.append(
                    (
                        doc_id, 0, 64 + digest[0] % 192, 64 + digest[1] % 192,
                        0.0, 0.0, digest[2] / 2.0, 0.0,
                        [float(b) / 255.0 for b in digest[:sample_frames]],
                        "stub",
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "n_frames", "width", "height", "fps",
                    "duration_sec", "mean_intensity", "motion_score",
                    "sampled_means", "decoder",
                ],
            )

    return spread_narrow(df.select(F.col(id_col), F.col(payload_col))).mapInPandas(
        _decode, schema=VIDEO_FEATURES_SCHEMA
    )
