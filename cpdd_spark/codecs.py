"""Pure-Python raster codecs (PNG, BMP, netpbm) on stdlib ``zlib``/``struct``.

No imaging library ships in this environment, but PNG's format is small
enough to implement honestly: chunk framing with CRC verification, IHDR
parsing, concatenated-IDAT zlib inflate, and per-scanline unfiltering
(all five filter types, including Paeth) for 8-bit gray / gray+alpha /
palette / RGB / RGBA images. BMP covers the uncompressed 24-bit BI_RGB
form (bottom-up rows, 4-byte stride padding). Together they make
:mod:`cpdd_spark.multimodal`'s decode path REAL for the two formats —
JPEG and the video containers remain documented stubs (entropy coding is
a library-scale dependency, not a ~200-line one).

Encoders exist so fixtures round-trip through genuine files:
``encode_png`` writes filter-0 scanlines (always decodable by any
conformant reader), ``encode_bmp`` writes the same 24-bit form the
decoder reads. Both decoders reject what they do not implement with a
clear error instead of wrong pixels.

These are per-blob Python kernels by nature (entropy-coded payloads are
not columnar); at scale they run inside Arrow-batched ``mapInPandas``
where the BATCH is the vectorization unit — the plumbing contract in
cpdd_spark.multimodal.extract_features.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

# color type -> samples per pixel (8-bit depth)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


class CodecError(ValueError):
    """Malformed or unsupported image payload."""


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _unfilter_scalar(raw: bytes, height: int, stride: int, bpp: int) -> bytearray:
    """Reverse PNG scanline filtering, byte-at-a-time — the direct
    transliteration of the PNG spec's filter recurrences. Kept as the
    executable reference the vectorized :func:`_unfilter` is
    property-tested against (tests/test_codecs.py); not on the decode
    path. ``stride`` = bytes per row (without the filter byte), ``bpp`` =
    bytes per complete pixel."""
    if len(raw) < height * (stride + 1):
        raise CodecError("IDAT too short for image dimensions")
    out = bytearray(height * stride)
    prev_start = -stride
    for y in range(height):
        row_off = y * (stride + 1)
        ftype = raw[row_off]
        line = raw[row_off + 1 : row_off + 1 + stride]
        o = y * stride
        if ftype == 0:  # None
            out[o : o + stride] = line
        elif ftype == 1:  # Sub
            for i in range(stride):
                left = out[o + i - bpp] if i >= bpp else 0
                out[o + i] = (line[i] + left) & 0xFF
        elif ftype == 2:  # Up
            if y == 0:
                out[o : o + stride] = line
            else:
                p = o + prev_start
                for i in range(stride):
                    out[o + i] = (line[i] + out[p + i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = out[o + i - bpp] if i >= bpp else 0
                up = out[o - stride + i] if y > 0 else 0
                out[o + i] = (line[i] + ((left + up) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = out[o + i - bpp] if i >= bpp else 0
                up = out[o - stride + i] if y > 0 else 0
                ul = out[o - stride + i - bpp] if (y > 0 and i >= bpp) else 0
                out[o + i] = (line[i] + _paeth(left, up, ul)) & 0xFF
        else:
            raise CodecError(f"unknown PNG filter type {ftype}")
    return out


def _unfilter(raw: bytes, height: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse PNG scanline filtering, vectorized with numpy.

    Per-byte interpreted Python was the decode kernel's dominating cost
    on real rasters (a 4K RGBA frame is 33 MB). The recurrences
    vectorize at three granularities — all mod-256, which uint8
    arithmetic gives for free:

    - filter 0 (None): whole-row copy;
    - filter 1 (Sub): ``out[x] = line[x] + out[x - bpp]`` is a plain
      prefix sum per byte lane -> one ``np.cumsum(dtype=uint8)`` over the
      row reshaped to ``(width, bpp)``;
    - filter 2 (Up): whole-row uint8 add against the previous row;
    - filters 3 (Average) / 4 (Paeth): the left tap makes the recurrence
      inherently sequential in x. A numpy one-call-per-pixel-column loop
      was MEASURED SLOWER than per-byte Python at bpp <= 4 (~1 us of
      numpy dispatch per op never amortizes over a <= 4-lane vector), so
      these rows run an optimized scalar loop instead: predictor inlined
      (no per-byte function call), Python-list rows (C-speed
      tolist/bytes conversion at the row boundary), and the Paeth
      distances reduced to two subtractions via p-a = b-c, p-b = a-c.

    Returns the unfiltered bytes as a flat uint8 array (C-contiguous,
    ``height * stride``)."""
    if len(raw) < height * (stride + 1):
        raise CodecError("IDAT too short for image dimensions")
    rows = np.frombuffer(raw, dtype=np.uint8, count=height * (stride + 1))
    rows = rows.reshape(height, stride + 1)
    ftypes = rows[:, 0]
    if int(ftypes.max(initial=0)) > 4:
        bad = int(ftypes[ftypes > 4][0])
        raise CodecError(f"unknown PNG filter type {bad}")
    # a strided [:, 1:] view defeats numpy's contiguous fast paths (memcpy /
    # SIMD add) — measured 200x slower row ops; one up-front copy fixes it
    lines = np.ascontiguousarray(rows[:, 1:])
    out = np.empty((height, stride), dtype=np.uint8)
    # stride is width*bpp for every supported color type, so the lane
    # reshape is exact
    width = stride // bpp
    for y in range(height):
        ftype = int(ftypes[y])
        line = lines[y]
        prev = out[y - 1] if y > 0 else None
        if ftype == 0:
            out[y] = line
        elif ftype == 1:
            np.cumsum(line.reshape(width, bpp), axis=0, dtype=np.uint8,
                      out=out[y].reshape(width, bpp))
        elif ftype == 2:
            if prev is None:
                out[y] = line
            else:
                np.add(line, prev, out=out[y])
        elif ftype == 3:  # Average
            ln = line.tolist()
            up = prev.tolist() if prev is not None else [0] * stride
            cur = [0] * stride
            for i in range(stride):
                left = cur[i - bpp] if i >= bpp else 0
                cur[i] = (ln[i] + ((left + up[i]) >> 1)) & 0xFF
            out[y] = np.frombuffer(bytes(cur), dtype=np.uint8)
        else:  # Paeth
            ln = line.tolist()
            up = prev.tolist() if prev is not None else [0] * stride
            cur = [0] * stride
            for i in range(stride):
                if i >= bpp:
                    a = cur[i - bpp]
                    c = up[i - bpp]
                else:
                    a = c = 0
                b = up[i]
                # p = a + b - c, so p-a = b-c and p-b = a-c: the three
                # predictor distances need only two subtractions
                db = b - c
                da = a - c
                pa = db if db >= 0 else -db
                pb = da if da >= 0 else -da
                s = da + db
                pc = s if s >= 0 else -s
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                cur[i] = (ln[i] + pred) & 0xFF
            out[y] = np.frombuffer(bytes(cur), dtype=np.uint8)
    return out.reshape(-1)


def decode_png(payload: bytes) -> np.ndarray:
    """PNG -> ``(height, width, channels)`` uint8 array.

    Supports bit depth 8, color types 0/2/3/4/6, no interlace. Chunk CRCs
    are verified — a corrupt blob raises :class:`CodecError` rather than
    producing silent garbage (the triage contract of the multimodal
    tier)."""
    if payload[: len(PNG_SIGNATURE)] != PNG_SIGNATURE:
        raise CodecError("not a PNG (bad signature)")
    pos = len(PNG_SIGNATURE)
    ihdr = None
    palette = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        # the CRC field after the data must also be present in full —
        # a truncation inside it surfaced as struct.error under fuzzing,
        # which escapes the CodecError-only contract
        if len(data) != length or pos + 12 + length > len(payload):
            raise CodecError("truncated chunk")
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise CodecError(f"CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            if len(data) != 13:
                raise CodecError(f"IHDR length {len(data)} != 13")
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            if len(data) == 0 or len(data) % 3:
                raise CodecError(f"PLTE length {len(data)} not a multiple of 3")
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise CodecError("missing IHDR")
    width, height, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8:
        raise CodecError(f"unsupported bit depth {depth} (only 8)")
    if color_type not in _PNG_CHANNELS:
        raise CodecError(f"unsupported color type {color_type}")
    if interlace != 0:
        raise CodecError("interlaced PNG not supported")
    if comp != 0 or filt != 0:
        raise CodecError("nonstandard compression/filter method")
    if width == 0 or height == 0:
        raise CodecError("zero-dimension image")
    ch = _PNG_CHANNELS[color_type]
    # malformed-but-CRC-valid payloads (e.g. an empty IDAT stream with a
    # correct chunk CRC) must surface as CodecError, not zlib.error —
    # extract_features(strict=False) absorbs only CodecError into NULL
    # features; anything else fails the whole Spark task
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise CodecError(f"corrupt IDAT stream: {e}") from e
    stride = width * ch
    arr = _unfilter(raw, height, stride, ch).reshape(height, width, ch)
    if color_type == 3:
        if palette is None:
            raise CodecError("palette image without PLTE")
        if int(arr[:, :, 0].max(initial=0)) >= len(palette):
            raise CodecError("palette index out of range")
        arr = palette[arr[:, :, 0]]
    return arr


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    """``(H, W)`` or ``(H, W, {1,2,3,4})`` uint8 -> PNG bytes (filter-0
    scanlines, zlib level 6; deterministic for a given array)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] not in (1, 2, 3, 4):
        raise CodecError(f"cannot encode array of shape {arr.shape}")
    h, w, ch = a.shape
    if h == 0 or w == 0:
        raise CodecError("zero-dimension image")
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    # filter byte 0 prepended per scanline
    rows = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), a.reshape(h, w * ch)], axis=1
    )
    idat = zlib.compress(rows.tobytes(), 6)
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed BMP -> ``(height, width, 3)`` uint8 (RGB)."""
    if payload[:2] != b"BM":
        raise CodecError("not a BMP (bad signature)")
    if len(payload) < 54:
        raise CodecError("truncated BMP header")
    (data_off,) = struct.unpack("<I", payload[10:14])
    (hdr_size,) = struct.unpack("<I", payload[14:18])
    if hdr_size < 40:
        raise CodecError(f"unsupported BMP header size {hdr_size}")
    width, height = struct.unpack("<ii", payload[18:26])
    planes, bpp = struct.unpack("<HH", payload[26:30])
    (compression,) = struct.unpack("<I", payload[30:34])
    if bpp != 24 or compression != 0:
        raise CodecError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    if width <= 0 or height == 0:
        raise CodecError("unsupported BMP dimensions")
    bottom_up = height > 0
    height = abs(height)
    stride = (width * 3 + 3) & ~3
    need = data_off + stride * height
    if len(payload) < need:
        raise CodecError("truncated BMP pixel data")
    rows = np.frombuffer(
        payload[data_off : data_off + stride * height], dtype=np.uint8
    ).reshape(height, stride)[:, : width * 3]
    arr = rows.reshape(height, width, 3)[:, :, ::-1]  # BGR -> RGB
    if bottom_up:
        arr = arr[::-1]
    return np.ascontiguousarray(arr)


def encode_bmp(arr: np.ndarray) -> bytes:
    """``(H, W, 3)`` uint8 RGB -> 24-bit BI_RGB BMP bytes (bottom-up)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = np.repeat(a[:, :, None], 3, axis=2)
    if a.ndim != 3 or a.shape[2] != 3:
        raise CodecError(f"cannot encode array of shape {arr.shape} as BMP")
    h, w, _ = a.shape
    if h == 0 or w == 0:
        raise CodecError("zero-dimension image")
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = a[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    pixel_bytes = rows.tobytes()
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_bytes), 2835, 2835, 0, 0
    )
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(pixel_bytes), 0, 0, 14 + 40
    )
    return header + info + pixel_bytes


def decode_pnm(payload: bytes) -> np.ndarray:
    """Binary netpbm raster -> uint8 array: P5 (PGM, grayscale ->
    ``(H, W, 1)``) and P6 (PPM, RGB -> ``(H, W, 3)``), maxval <= 255.
    Header is ASCII tokens (magic, width, height, maxval) with ``#``
    comments; pixel data follows the single whitespace byte after
    maxval."""
    if payload[:2] not in (b"P5", b"P6"):
        raise CodecError("not a binary PGM/PPM (bad signature)")
    ch = 1 if payload[:2] == b"P5" else 3
    # tokenize the header: up to 4 tokens, skipping comments
    pos, tokens = 0, []
    while len(tokens) < 4:
        if pos >= len(payload):
            raise CodecError("truncated PNM header")
        c = payload[pos : pos + 1]
        if c == b"#":
            nl = payload.find(b"\n", pos)
            if nl < 0:
                raise CodecError("truncated PNM comment")
            pos = nl + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(payload) and not payload[end : end + 1].isspace():
                end += 1
            tokens.append(payload[pos:end])
            pos = end
    pos += 1  # exactly one whitespace byte separates maxval from pixels
    try:
        width, height, maxval = (int(t) for t in tokens[1:4])
    except ValueError as exc:
        raise CodecError(f"malformed PNM header: {exc}") from None
    if maxval <= 0 or maxval > 255:
        raise CodecError(f"unsupported PNM maxval {maxval}")
    if width <= 0 or height <= 0:
        raise CodecError("unsupported PNM dimensions")
    need = width * height * ch
    data = payload[pos : pos + need]
    if len(data) != need:
        raise CodecError("truncated PNM pixel data")
    return np.frombuffer(data, dtype=np.uint8).reshape(height, width, ch)


def encode_pnm(arr: np.ndarray) -> bytes:
    """``(H, W)``/``(H, W, 1)`` -> P5 (PGM); ``(H, W, 3)`` -> P6 (PPM)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] not in (1, 3):
        raise CodecError(f"cannot encode array of shape {arr.shape} as PNM")
    h, w, ch = a.shape
    if h == 0 or w == 0:
        raise CodecError("zero-dimension image")
    magic = b"P5" if ch == 1 else b"P6"
    return magic + f"\n{w} {h}\n255\n".encode("ascii") + a.tobytes()
