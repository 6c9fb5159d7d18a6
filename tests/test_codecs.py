"""Pure-Python PNG/BMP codecs: round-trips, all five PNG filter types,
palette images, corruption detection, resize kernel. No Spark needed —
these pin the byte-level layer under cpdd_spark.multimodal's decode path."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from cpdd_spark.codecs import (
    CodecError,
    decode_bmp,
    decode_png,
    encode_bmp,
    encode_png,
)


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


@pytest.mark.parametrize(
    "shape", [(5, 7), (1, 1), (13, 4, 3), (8, 8, 4), (3, 9, 2), (64, 32)]
)
def test_png_roundtrip(shape):
    rng = np.random.default_rng(7)
    a = rng.integers(0, 256, size=shape, dtype=np.uint8)
    d = decode_png(encode_png(a))
    ref = a[:, :, None] if a.ndim == 2 else a
    assert np.array_equal(d, ref)


@pytest.mark.parametrize("shape", [(5, 7, 3), (1, 1, 3), (4, 6, 3), (3, 5, 3)])
def test_bmp_roundtrip(shape):
    """Widths 5/7/6 exercise nonzero 4-byte stride padding; rows are
    stored bottom-up and BGR — all must invert exactly."""
    rng = np.random.default_rng(8)
    a = rng.integers(0, 256, size=shape, dtype=np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(a)), a)


def test_png_all_filter_types_unfilter():
    """A PNG whose scanlines cycle through filters 0..4 (None, Sub, Up,
    Average, Paeth) must decode to the original pixels — the encoder only
    emits filter 0, so this pins the decoder against independently
    filtered input (any conformant writer may pick any filter per row)."""
    rng = np.random.default_rng(9)
    w, h = 6, 5
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raw = bytearray()
    prev = [0] * (w * 3)
    for y in range(h):
        ftype = y % 5
        row = [int(v) for v in img[y].reshape(-1)]
        out = [ftype]
        for i, v in enumerate(row):
            left = row[i - 3] if i >= 3 else 0
            up = prev[i]
            ul = prev[i - 3] if i >= 3 else 0
            if ftype == 0:
                f = v
            elif ftype == 1:
                f = (v - left) & 0xFF
            elif ftype == 2:
                f = (v - up) & 0xFF
            elif ftype == 3:
                f = (v - ((left + up) >> 1)) & 0xFF
            else:
                f = (v - paeth(left, up, ul)) & 0xFF
            out.append(f)
        raw.extend(out)
        prev = row

    png = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(png), img)


def test_unfilter_vectorized_matches_scalar_reference():
    """Property test: the numpy unfilter must produce byte-identical
    output to the scalar spec transliteration on random filtered streams
    — every filter type x every supported bpp x degenerate shapes
    (1-pixel rows, 1-row images, width < 2 where the left/upper-left
    taps vanish)."""
    from cpdd_spark.codecs import _unfilter, _unfilter_scalar

    rng = np.random.default_rng(21)
    shapes = [(1, 1), (1, 7), (5, 1), (4, 6), (9, 3), (16, 16)]
    for bpp in (1, 2, 3, 4):
        for h, w in shapes:
            stride = w * bpp
            # random filter type per row, random filtered bytes: any
            # byte stream is a valid filtered stream (filters are
            # bijections over rows), so this covers the full input space
            raw = bytearray()
            for _ in range(h):
                raw.append(int(rng.integers(0, 5)))
                raw.extend(rng.integers(0, 256, size=stride, dtype=np.uint8).tobytes())
            got = _unfilter(bytes(raw), h, stride, bpp)
            ref = _unfilter_scalar(bytes(raw), h, stride, bpp)
            assert bytes(got) == bytes(ref), (bpp, h, w)

    # both reject a bad filter type and a short stream identically
    for fn in (_unfilter, _unfilter_scalar):
        with pytest.raises(CodecError, match="filter type"):
            fn(b"\x05\x00\x00", 1, 2, 1)
        with pytest.raises(CodecError, match="too short"):
            fn(b"\x00\x00", 2, 2, 1)


def test_png_palette_decode():
    rng = np.random.default_rng(10)
    pal = rng.integers(0, 256, size=(4, 3), dtype=np.uint8)
    idx = rng.integers(0, 4, size=(3, 5), dtype=np.uint8)
    raw = b"".join(b"\x00" + bytes(idx[y]) for y in range(3))
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 3, 8, 3, 0, 0, 0))
        + _chunk(b"PLTE", pal.tobytes())
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(png), pal[idx])


def test_png_corruption_detected():
    good = encode_png(np.arange(64, dtype=np.uint8).reshape(8, 8))
    flipped = bytearray(good)
    flipped[20] ^= 0xFF  # inside IHDR data -> CRC mismatch
    with pytest.raises(CodecError, match="CRC"):
        decode_png(bytes(flipped))
    with pytest.raises(CodecError, match="signature"):
        decode_png(b"NOTAPNG" + good)
    with pytest.raises(CodecError, match="truncated"):
        decode_png(good[:-20])  # cuts into the IDAT chunk body/CRC


def test_png_malformed_but_crc_valid_raises_codec_error():
    """Every chunk CRC can be VALID while the payload is still garbage —
    those must surface as CodecError (the only class
    extract_features(strict=False) absorbs into NULL features), never as
    a leaked zlib.error / ValueError / IndexError that would fail the
    whole Spark task."""
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr_gray = _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))

    # (1) empty IDAT stream: zlib.decompress(b"") raises zlib.error
    with pytest.raises(CodecError, match="IDAT"):
        decode_png(sig + ihdr_gray + _chunk(b"IDAT", b"") + _chunk(b"IEND", b""))

    # (2) non-deflate IDAT bytes: also zlib.error underneath
    with pytest.raises(CodecError, match="IDAT"):
        decode_png(
            sig + ihdr_gray + _chunk(b"IDAT", b"\xff\xff\xff\xff") + _chunk(b"IEND", b"")
        )

    ihdr_pal = _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0))
    idat = _chunk(b"IDAT", zlib.compress(b"\x00\x00\x03"))  # indices 0, 3

    # (3) PLTE length not a multiple of 3: reshape would ValueError
    with pytest.raises(CodecError, match="PLTE"):
        decode_png(sig + ihdr_pal + _chunk(b"PLTE", b"\x01\x02\x03\x04") + idat + _chunk(b"IEND", b""))

    # (4) palette index beyond the palette: lookup would IndexError
    with pytest.raises(CodecError, match="palette index"):
        decode_png(sig + ihdr_pal + _chunk(b"PLTE", b"\x01\x02\x03" * 2) + idat + _chunk(b"IEND", b""))


def test_png_unsupported_shapes_rejected():
    good = encode_png(np.zeros((2, 2), dtype=np.uint8))
    # rewrite IHDR with bit depth 16
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    bad = good[:8] + _chunk(b"IHDR", ihdr) + good[8 + 12 + 13 :]
    with pytest.raises(CodecError, match="bit depth"):
        decode_png(bad)
    with pytest.raises(CodecError):
        encode_png(np.zeros((0, 4), dtype=np.uint8))


def test_bmp_corruption_detected():
    good = encode_bmp(np.zeros((3, 3, 3), dtype=np.uint8))
    with pytest.raises(CodecError, match="signature"):
        decode_bmp(b"XX" + good[2:])
    with pytest.raises(CodecError, match="truncated"):
        decode_bmp(good[:-4])
    # 8-bpp header rejected (only 24-bit implemented)
    hdr = bytearray(good)
    hdr[28] = 8
    with pytest.raises(CodecError, match="bpp"):
        decode_bmp(bytes(hdr))


def test_pnm_roundtrip_and_header_parsing():
    from cpdd_spark.codecs import decode_pnm, encode_pnm

    rng = np.random.default_rng(12)
    gray = rng.integers(0, 256, size=(4, 7), dtype=np.uint8)
    assert np.array_equal(decode_pnm(encode_pnm(gray)), gray[:, :, None])
    rgb = rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8)
    assert np.array_equal(decode_pnm(encode_pnm(rgb)), rgb)
    # comments + arbitrary whitespace in the header are legal netpbm
    wild = b"P5 # magic\n# a comment line\n  7\t4 # dims\n255\n" + gray.tobytes()
    assert np.array_equal(decode_pnm(wild), gray[:, :, None])
    with pytest.raises(CodecError, match="truncated"):
        decode_pnm(encode_pnm(gray)[:-3])
    with pytest.raises(CodecError, match="maxval"):
        decode_pnm(b"P5\n2 2\n65535\n" + bytes(8))
    with pytest.raises(CodecError, match="signature"):
        decode_pnm(b"P3\n2 2\n255\n0 0 0 0")  # ASCII form not implemented
