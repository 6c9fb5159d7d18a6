"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Treats image/audio/video as ``binary`` columns with a metadata struct,
processed through Arrow-batched ``mapInPandas`` kernels. The decode path
is REAL for PNG, BMP, binary netpbm (:mod:`cpdd_spark.codecs` —
pure-Python zlib inflate + scanline unfilter / BI_RGB / P5-P6 read) and
baseline JPEG (:mod:`cpdd_spark.jpeg` — from-spec Huffman + IDCT),
GIF (:mod:`cpdd_spark.gif` — LZW + palette + interlace), and lossless
WebP (:mod:`cpdd_spark.webp` — VP8L prefix codes + transforms): features
are histograms of actual decoded pixels, resize re-encodes actual
resampled rasters. Video containers (and lossy-VP8 WebP) remain
documented stubs and raise ``NotImplementedError``/``CodecError`` so a
mislabeled blob fails loudly instead of producing wrong pixels.
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
    resize_nearest,
)
from cpdd_spark.gif import decode_gif, encode_gif
from cpdd_spark.jpeg import decode_jpeg, encode_jpeg
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


def _spread_for_python_kernel(df: DataFrame) -> DataFrame:
    """Repartition a Python-kernel input to cluster parallelism.

    The media tiers are the engine's only interpreted-Python hot path; a
    single small parquet file scans as ONE partition, which would run the
    whole Arrow kernel chain (encode -> decode -> features) on one core —
    measured 1/32 utilization on the sf0.1 bench before this (the r6
    multimodal_features 0.8 s -> 3.1 s "regression" was this shape paying
    for the new JPEG/GIF rotation serially). The shuffle moves only the
    tiny (id, text) projection; at cluster scale the same call spreads
    object-storage payload batches across executors."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def format_col(payload) -> "F.Column":
    """Container-format sniff as a PURE JVM expression (hex prefix match on
    the first bytes — codegen, no Python): ``unknown`` when no signature
    matches. RIFF containers are refined by their type tag (bytes 9-12)."""
    hx = F.hex(F.substring(payload, 1, 16))
    riff_tag = F.decode(F.substring(payload, 9, 4), "UTF-8")
    expr = F.lit("unknown")
    for prefix, fmt in reversed(MAGIC_PREFIXES):
        hit = (
            F.when(riff_tag == "WAVE", F.lit("wav"))
            .when(riff_tag == "WEBP", F.lit("webp"))
            .when(riff_tag == "AVI ", F.lit("avi"))
            .otherwise(F.lit("riff"))
            if fmt == "riff"
            else F.lit(fmt)
        )
        expr = F.when(hx.startswith(prefix), hit).otherwise(expr)
    return expr


def attach_payload(df: DataFrame, id_col: str, text_col: str, kind: str = "image") -> DataFrame:
    """Build a media table from any source column by treating its UTF-8
    bytes as the opaque payload (the sandbox stand-in for real blobs)."""
    return df.select(
        F.col(id_col).cast("string").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.length(F.col(text_col)).cast("int").alias("width"),
            F.lit(1).cast("int").alias("height"),
            F.lit("application/octet-stream").alias("mime"),
        ).alias("meta"),
    )


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
    """Python twin of :func:`format_col` (magic-byte container sniff),
    for use inside decode kernels; tested byte-identical to the JVM
    expression."""
    for prefix, fmt in _SIGS:
        if b.startswith(prefix):
            if fmt == "riff":
                tag = b[8:12]
                return {b"WAVE": "wav", b"WEBP": "webp", b"AVI ": "avi"}.get(
                    tag, "riff"
                )
            return fmt
    return "unknown"


def pixel_histogram(arr: np.ndarray, bins: int = 16) -> np.ndarray:
    """Normalized luminance-byte histogram of decoded pixels — the
    deterministic feature vector the ANN/dedup tiers consume (swap for a
    model embedding on a cluster with one; the plan stays identical)."""
    flat = np.asarray(arr, dtype=np.uint8).ravel()
    hist, _ = np.histogram(flat, bins=bins, range=(0, 256))
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


def resize_image(payload: bytes, width: int, height: int) -> bytes:
    """REAL raster resize for PNG/BMP: decode (cpdd_spark.codecs),
    nearest-neighbor resample, re-encode as PNG (the normalized output
    container). Formats without a decoder raise — see
    :func:`decode_image`."""
    return encode_png(resize_nearest(decode_image(payload), width, height))


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """``media -> media`` with every payload decoded, resampled to
    ``width x height``, and re-encoded as PNG — a real thumbnail/
    normalization pass over genuine containers. Metadata is recomputed
    JVM-side after the kernel; only the byte transform crosses into
    Python (Arrow-batched)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "kind": pdf["kind"].to_numpy(),
                    "payload": [
                        resize_image(p, width, height) for p in pdf["payload"]
                    ],
                }
            )

    resized = media.select("media_id", "kind", "payload").mapInPandas(
        kernel, schema="media_id string, kind string, payload binary"
    )
    return resized.select(
        "media_id",
        "kind",
        "payload",
        F.struct(
            F.lit(width).cast("int").alias("width"),
            F.lit(height).cast("int").alias("height"),
            F.lit("image/png").alias("mime"),
        ).alias("meta"),
    )


def text_to_image_media(
    df: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 32,
    max_height: int = 64,
    mixed_formats: bool = True,
) -> DataFrame:
    """Render each row's UTF-8 text bytes into a REAL image payload: a
    grayscale raster of fixed ``width`` (pixels = bytes, zero-padded,
    height capped at ``max_height``). With ``mixed_formats`` the
    container rotates by id CRC across PNG / 24-bit BMP / binary PGM /
    baseline JPEG / GIF / lossless WebP, so one table exercises every
    implemented decoder (including the lossy entropy-coded path and the LZW palette
    path); otherwise all PNG.

    This is the sandbox's deterministic media source: downstream decode /
    feature / resize operators run against genuine containers with CRCs,
    scanline filters, and stride padding — not placeholder bytes. On a
    cluster the same pipeline shape reads payloads from object storage
    instead."""
    import zlib as _zlib

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
                enc = encode_png
                if mixed_formats:
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

    base = _spread_for_python_kernel(
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


def avg_pool_features(features: DataFrame, factor: int = 4) -> DataFrame:
    """REAL (no codec): average-pool each fixed-length feature vector by
    ``factor`` — the standard embedding-compaction step before ANN
    indexing, as a pure JVM expression (aggregate over array slices inside
    codegen; no Python). Input: ``(media_id, features array<float>)``."""
    f = F.col("features")
    k = F.lit(factor)
    pooled = F.transform(
        F.sequence(F.lit(0), F.floor((F.size(f) - 1) / k).cast("int")),
        lambda i: F.aggregate(
            F.slice(f, i * k + 1, factor),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double"),
        )
        / F.size(F.slice(f, i * k + 1, factor)),
    )
    # empty vectors: sequence(0, floor(-1/k)) is the DESCENDING [0, -1] in
    # Spark, whose -1 index slices from the array END — guard to an empty
    # pooled array instead of [null, null]
    pooled = F.when(F.size(f) > 0, pooled).otherwise(
        F.array().cast("array<double>")
    )
    return features.select("media_id", pooled.alias("pooled"))


def frame_sample(media: DataFrame, every_n: int = 1024, max_frames: int = 8) -> DataFrame:
    """Deterministic 'frame sampling': slice the payload at fixed strides —
    the plumbing twin of video frame extraction (binary slicing, explode,
    per-frame rows) with no codec dependency.

    ``frame`` is BINARY — the payload is sliced as bytes. An earlier form
    cast the payload to STRING before slicing, which replaced every
    non-UTF-8 byte with U+FFFD and silently garbled real media payloads
    (all shipped codecs emit non-UTF-8 bytes); ``substring`` slices
    BinaryType natively, so the sampled frames are the payload's actual
    bytes."""
    idx = F.sequence(F.lit(0), F.lit(max_frames - 1))
    return (
        media.select(
            "media_id",
            F.posexplode(
                F.filter(
                    F.transform(
                        idx,
                        lambda i: F.substring(
                            F.col("payload"), i * every_n + 1, F.lit(64)
                        ),
                    ),
                    lambda s: F.length(s) > 0,
                )
            ).alias("frame_idx", "frame"),
        )
    )


def text_to_audio_media(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sample_rate: int = 8000,
    max_samples: int = 8192,
) -> DataFrame:
    """Render each row's UTF-8 text bytes into a REAL mono PCM16 WAV
    payload (sample = ``(byte - 128) << 8``, truncated at
    ``max_samples``) — the audio twin of :func:`text_to_image_media`:
    downstream decode/feature operators run against genuine RIFF
    containers with fmt/data chunk framing, not placeholder bytes. The
    media schema is the SAME struct the image tier uses (width/height
    null, mime ``audio/wav``), so mixed-modality tables union cleanly
    and route by ``kind``/sniffed format."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for text in pdf["text"]:
                b = np.frombuffer(
                    str(text).encode("utf-8")[:max_samples], dtype=np.uint8
                )
                if len(b) == 0:
                    b = np.zeros(1, dtype=np.uint8)
                samples = (b.astype(np.int16) - 128) << 8
                payloads.append(encode_wav(samples, sample_rate))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "kind": ["audio"] * len(pdf),
                    "payload": payloads,
                }
            )

    base = _spread_for_python_kernel(
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
