"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Treats image/audio/video as ``binary`` columns with a metadata struct,
processed through Arrow-batched ``mapInPandas`` kernels. The decode path
is REAL for PNG, BMP, binary netpbm (:mod:`cpdd_spark.codecs` —
pure-Python zlib inflate + scanline unfilter / BI_RGB / P5-P6 read) and
baseline JPEG (:mod:`cpdd_spark.jpeg` — from-spec Huffman + IDCT),
GIF (:mod:`cpdd_spark.gif` — LZW + palette + interlace), and lossless
WebP (:mod:`cpdd_spark.webp` — VP8L prefix codes + transforms): features
are histograms of actual decoded pixels. Video containers (and lossy-VP8
WebP) remain documented stubs and raise ``NotImplementedError`` /
``CodecError`` so a mislabeled blob fails loudly instead of producing
wrong pixels.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cpdd_spark.codecs import (
    CodecError,
    decode_bmp,
    decode_png,
    decode_pnm,
    encode_bmp,
    encode_png,
    encode_pnm,
)
from cpdd_spark.gif import decode_gif, encode_gif
from cpdd_spark.jpeg import decode_jpeg, encode_jpeg
from cpdd_spark.session import spread
from cpdd_spark.webp import decode_webp, encode_webp
from cpdd_spark.wav import decode_wav, encode_wav

FEATURE_SCHEMA = (
    "media_id string, n_bytes long, format string, width int, height int, "
    "channels int, features array<float>, entropy double"
)
AUDIO_FEATURE_SCHEMA = (
    "media_id string, n_bytes long, format string, sample_rate int, "
    "n_samples long, n_channels int, duration_s double, rms double, "
    "zero_cross_rate double, spectral_centroid_hz double"
)

# magic-byte signatures (hex prefixes) -> container format. These are REAL
# byte-level detectors (no codec library involved): the part of multimodal
# ingestion that must run on every blob BEFORE any decode is dispatched —
# routing, corruption triage, and mislabeled-extension detection at scale.
MAGIC_PREFIXES = [
    ("FFD8FF", "jpeg"),
    ("89504E470D0A1A0A", "png"),
    ("474946383761", "gif"),
    ("474946383961", "gif"),
    ("52494646", "riff"),  # refined to wav/webp/avi by bytes 9-12
    ("1A45DFA3", "matroska"),  # mkv/webm
    ("494433", "mp3"),
    ("FFFB", "mp3"),
    ("255044462D", "pdf"),
    ("OGGS".encode().hex().upper(), "ogg"),
    # last: the 2-byte magics — every longer signature wins first
    ("424D", "bmp"),
    ("5035", "pgm"),  # netpbm binary grayscale
    ("5036", "ppm"),  # netpbm binary RGB
]


_DECODERS = {
    "png": decode_png,
    "bmp": decode_bmp,
    "pgm": decode_pnm,
    "ppm": decode_pnm,
    "jpeg": decode_jpeg,
    "gif": decode_gif,
    "webp": decode_webp,
}


def decode_image(payload: bytes) -> np.ndarray:
    """Decode a raster payload to ``(H, W, C)`` uint8 pixels.

    REAL for PNG, BMP, binary netpbm (PGM/PPM) (cpdd_spark.codecs),
    baseline-sequential JPEG (cpdd_spark.jpeg), GIF (cpdd_spark.gif),
    and lossless WebP/VP8L (cpdd_spark.webp); every other container
    (video) raises ``NotImplementedError`` — a silent stand-in would
    poison every feature downstream. Malformed or unsupported-profile
    payloads of a supported format raise :class:`CodecError` (CRC/marker
    checked, truncation detected, progressive JPEG and lossy-VP8 WebP
    refused loudly)."""
    fmt = sniff_format(payload)
    dec = _DECODERS.get(fmt)
    if dec is None:
        raise NotImplementedError(
            f"no codec for container format {fmt!r}: PNG, BMP, "
            "binary netpbm, baseline JPEG, GIF, and lossless WebP "
            "decode natively; video formats require a media library "
            "not present in this environment"
        )
    return dec(payload)


def byte_entropy(payload: bytes) -> float:
    """Shannon entropy (bits/byte) of the payload — a REAL feature, no
    codec needed: ~0 for constant filler, ~8 for compressed/encrypted
    blobs; the standard cheap screen for corrupt/double-compressed media
    and for text-vs-binary triage in mixed dumps."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    if len(arr) == 0:
        return 0.0
    counts = np.bincount(arr, minlength=256)
    p = counts[counts > 0] / len(arr)
    return float(-(p * np.log2(p)).sum())


_SIGS = [(bytes.fromhex(h), f) for h, f in MAGIC_PREFIXES]


def sniff_format(b: bytes) -> str:
    """Magic-byte container sniff (``unknown`` when no signature
    matches); RIFF containers are refined by their type tag (bytes 9-12)."""
    for prefix, fmt in _SIGS:
        if b.startswith(prefix):
            if fmt == "riff":
                tag = b[8:12]
                return {b"WAVE": "wav", b"WEBP": "webp", b"AVI ": "avi"}.get(
                    tag, "riff"
                )
            return fmt
    return "unknown"


def pixel_histogram(arr: np.ndarray) -> np.ndarray:
    """Normalized 16-bin luminance-byte histogram of decoded pixels — the
    deterministic feature vector the ANN/dedup tiers consume (swap for a
    model embedding on a cluster with one; the plan stays identical)."""
    flat = np.asarray(arr, dtype=np.uint8).ravel()
    hist, _ = np.histogram(flat, bins=16, range=(0, 256))
    return (hist / max(1, flat.size)).astype(np.float32)


def extract_features(media: DataFrame, strict: bool = False) -> DataFrame:
    """``media -> (media_id, n_bytes, format, width, height, channels,
    features[16], entropy)`` via mapInPandas.

    ``features`` is a histogram of REAL DECODED PIXELS for PNG/BMP/PGM/
    PPM payloads (cpdd_spark.codecs); ``entropy`` and ``format`` are byte-level
    computations that need no codec. Payloads with no implemented decoder
    — or corrupt payloads of a supported format — yield NULL
    features/dimensions (``strict=True`` raises instead: the triage mode
    for pipelines that must not silently drop modalities). Batch shape
    contract: one Arrow batch in, one pandas frame out, features as
    fixed-length float32 lists — exactly the shape a model-embedding UDF
    would use (swap the kernel body, keep the plan)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims: list[tuple[int | None, int | None, int | None]] = []
            feats: list[np.ndarray | None] = []
            for p in pdf["payload"]:
                try:
                    arr = decode_image(p)
                except (NotImplementedError, CodecError):
                    if strict:
                        raise
                    dims.append((None, None, None))
                    feats.append(None)
                else:
                    h, w, c = arr.shape
                    dims.append((w, h, c))
                    feats.append(pixel_histogram(arr))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "n_bytes": pdf["payload"].str.len().astype("int64"),
                    "format": [sniff_format(p) for p in pdf["payload"]],
                    "width": pd.array([d[0] for d in dims], dtype="Int32"),
                    "height": pd.array([d[1] for d in dims], dtype="Int32"),
                    "channels": pd.array([d[2] for d in dims], dtype="Int32"),
                    "features": feats,
                    "entropy": [byte_entropy(p) for p in pdf["payload"]],
                }
            )

    return media.select("media_id", "payload").mapInPandas(kernel, schema=FEATURE_SCHEMA)


def text_to_image_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Render each row's UTF-8 text bytes into a REAL image payload: a
    grayscale raster 32 pixels wide (pixels = bytes, zero-padded, height
    capped at 64 rows). The container rotates by id CRC across PNG /
    24-bit BMP / binary PGM / baseline JPEG / GIF / lossless WebP, so one
    table exercises every implemented decoder (including the lossy
    entropy-coded path and the LZW palette path).

    This is the sandbox's deterministic media source: downstream decode /
    feature operators run against genuine containers with CRCs,
    scanline filters, and stride padding — not placeholder bytes. On a
    cluster the same pipeline shape reads payloads from object storage
    instead."""
    import zlib as _zlib

    width, max_height = 32, 64

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid, text in zip(pdf["media_id"], pdf["text"]):
                b = str(text).encode("utf-8")
                h = min(max_height, max(1, -(-len(b) // width)))
                buf = np.zeros(width * h, dtype=np.uint8)
                take = min(len(b), width * h)
                buf[:take] = np.frombuffer(b[:take], dtype=np.uint8)
                arr = buf.reshape(h, width)
                enc = (
                    encode_png, encode_bmp, encode_pnm, encode_jpeg,
                    encode_gif, encode_webp,
                )[_zlib.crc32(str(mid).encode("utf-8")) % 6]
                payloads.append(enc(arr))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "kind": ["image"] * len(pdf),
                    "payload": payloads,
                }
            )

    base = spread(
        df.select(
            F.col(id_col).cast("string").alias("media_id"),
            F.col(text_col).cast("string").alias("text"),
        )
    )
    media = base.mapInPandas(
        kernel, schema="media_id string, kind string, payload binary"
    )
    return media.select(
        "media_id",
        "kind",
        "payload",
        F.struct(
            F.lit(width).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit("image/*").alias("mime"),
        ).alias("meta"),
    )


def text_to_audio_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Render each row's UTF-8 text bytes into a REAL mono PCM16 WAV
    payload at 8 kHz (sample = ``(byte - 128) << 8``, truncated at 8192
    samples) — the audio twin of :func:`text_to_image_media`:
    downstream decode/feature operators run against genuine RIFF
    containers with fmt/data chunk framing, not placeholder bytes. The
    media schema is the SAME struct the image tier uses (width/height
    null, mime ``audio/wav``), so mixed-modality tables union cleanly
    and route by ``kind``/sniffed format."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for text in pdf["text"]:
                b = np.frombuffer(str(text).encode("utf-8")[:8192], dtype=np.uint8)
                if len(b) == 0:
                    b = np.zeros(1, dtype=np.uint8)
                samples = (b.astype(np.int16) - 128) << 8
                payloads.append(encode_wav(samples, 8000))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "kind": ["audio"] * len(pdf),
                    "payload": payloads,
                }
            )

    base = spread(
        df.select(
            F.col(id_col).cast("string").alias("media_id"),
            F.col(text_col).cast("string").alias("text"),
        )
    )
    media = base.mapInPandas(
        kernel, schema="media_id string, kind string, payload binary"
    )
    return media.select(
        "media_id",
        "kind",
        "payload",
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit("audio/wav").alias("mime"),
        ).alias("meta"),
    )


def audio_features(media: DataFrame, strict: bool = False) -> DataFrame:
    """``media -> (media_id, n_bytes, format, sample_rate, n_samples,
    n_channels, duration_s, rms, zero_cross_rate, spectral_centroid_hz)``
    via mapInPandas — REAL decoded-sample features for WAV payloads
    (cpdd_spark.wav), the audio analogue of :func:`extract_features`.

    ``rms`` is computed on samples normalized to [-1, 1) with an exact
    int64 sum of squares (order-independent, so deterministic across
    partitionings); ``zero_cross_rate`` is the fraction of adjacent
    same-channel pairs that change sign (integer comparisons, exact);
    ``spectral_centroid_hz`` is the magnitude-weighted mean frequency of
    channel 0's rfft (float64 — deterministic for a given numpy build,
    the same contract the JPEG IDCT pins). Non-WAV or malformed payloads
    yield NULLs (``strict=True`` raises — triage mode), matching the
    image tier's decode-or-refuse discipline."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for p in pdf["payload"]:
                try:
                    samples, rate = decode_wav(p)
                except CodecError:
                    if strict:
                        raise
                    rows.append((None,) * 7)
                    continue
                n, ch = samples.shape
                s64 = samples.astype(np.int64)
                rms = float(
                    np.sqrt(float((s64 * s64).sum()) / (n * ch)) / 32768.0
                )
                if n > 1:
                    signs = samples >= 0
                    zcr = float(
                        (signs[1:] != signs[:-1]).sum() / ((n - 1) * ch)
                    )
                else:
                    zcr = 0.0
                mag = np.abs(np.fft.rfft(samples[:, 0].astype(np.float64)))
                total = float(mag.sum())
                if total > 0.0:
                    freqs = np.fft.rfftfreq(n, d=1.0 / rate)
                    centroid = float((freqs * mag).sum() / total)
                else:
                    centroid = 0.0
                rows.append(
                    (rate, n, ch, n / rate, rms, zcr, centroid)
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "n_bytes": pdf["payload"].str.len().astype("int64"),
                    "format": [sniff_format(p) for p in pdf["payload"]],
                    "sample_rate": pd.array(
                        [r[0] for r in rows], dtype="Int32"
                    ),
                    "n_samples": pd.array([r[1] for r in rows], dtype="Int64"),
                    "n_channels": pd.array([r[2] for r in rows], dtype="Int32"),
                    "duration_s": [r[3] for r in rows],
                    "rms": [r[4] for r in rows],
                    "zero_cross_rate": [r[5] for r in rows],
                    "spectral_centroid_hz": [r[6] for r in rows],
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        kernel, schema=AUDIO_FEATURE_SCHEMA
    )
