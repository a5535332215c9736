"""Baseline TIFF codec (functions/tiff.py): II/MM, strips, PackBits,
photometric variants, error gates, and the Spark dispatch/resize path."""

from __future__ import annotations

import struct

import pytest

from ndr_import_spark.functions.tiff import (
    TiffError,
    decode_tiff,
    encode_tiff,
    is_tiff,
)
from ndr_import_spark.functions.png import grid_features


def _pb_literal(seg: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(seg):
        n = min(128, len(seg) - i)
        out += bytes([n - 1]) + seg[i : i + n]
        i += n
    return bytes(out)


def _pb_repeat(n: int, byte: int) -> bytes:
    out = bytearray()
    while n:
        run = min(128, n)
        out += bytes([257 - run, byte])
        n -= run
    return bytes(out)


def _mm_gray(w, h, gray, rows_per_strip, photometric=0, compress=True):
    """Big-endian grayscale fixture: multi-strip, optionally PackBits."""
    strips = []
    for y0 in range(0, h, rows_per_strip):
        seg = gray[y0 * w : (y0 + min(rows_per_strip, h - y0)) * w]
        strips.append(_pb_literal(seg) if compress else seg)
    offs, pos = [], 8
    for s in strips:
        offs.append(pos)
        pos += len(s)
    ifd_off = pos
    entries = [
        (256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 8),
        (259, 3, 1, 32773 if compress else 1), (262, 3, 1, photometric),
        (277, 3, 1, 1), (278, 4, 1, rows_per_strip),
    ]
    n = len(strips)
    extra = b""
    if n == 1:
        entries += [(273, 4, 1, offs[0]), (279, 4, 1, len(strips[0]))]
    else:
        ifd_len = 2 + 12 * (len(entries) + 2) + 4
        arr_off = ifd_off + ifd_len
        entries += [(273, 4, n, arr_off), (279, 4, n, arr_off + 4 * n)]
        extra = struct.pack(">" + "I" * n, *offs) + struct.pack(
            ">" + "I" * n, *[len(s) for s in strips]
        )
    entries.sort()
    ifd = struct.pack(">H", len(entries))
    for tag, typ, count, value in entries:
        inline = (
            struct.pack(">HH", value, 0)
            if (typ == 3 and count == 1)
            else struct.pack(">I", value)
        )
        ifd += struct.pack(">HHI", tag, typ, count) + inline
    ifd += struct.pack(">I", 0)
    return struct.pack(">2sHI", b"MM", 42, ifd_off) + b"".join(strips) + ifd + extra


def test_roundtrip_ii_rgb_single_strip():
    rgb = bytes(i % 256 for i in range(5 * 4 * 3))
    data = encode_tiff(5, 4, rgb)
    assert is_tiff(data)
    assert decode_tiff(data) == (5, 4, 3, rgb)


def test_mm_multistrip_packbits_whiteiszero_inverts():
    gray = bytes((i * 7) % 256 for i in range(6 * 5))
    data = _mm_gray(6, 5, gray, rows_per_strip=2, photometric=0)
    w, h, ch, px = decode_tiff(data)
    assert (w, h, ch) == (6, 5, 1)
    assert px == bytes(255 - b for b in gray)


def test_mm_blackiszero_passthrough_uncompressed():
    gray = bytes(range(24))
    data = _mm_gray(6, 4, gray, rows_per_strip=4, photometric=1, compress=False)
    assert decode_tiff(data) == (6, 4, 1, gray)


def test_packbits_repeat_runs():
    strip = _pb_repeat(30, 9)
    ifd_off = 8 + len(strip)
    entries = [
        (256, 4, 1, 6), (257, 4, 1, 5), (258, 3, 1, 8), (259, 3, 1, 32773),
        (262, 3, 1, 1), (273, 4, 1, 8), (277, 3, 1, 1), (278, 4, 1, 5),
        (279, 4, 1, len(strip)),
    ]
    ifd = struct.pack("<H", len(entries))
    for tag, typ, count, value in entries:
        inline = (
            struct.pack("<HH", value, 0)
            if (typ == 3 and count == 1)
            else struct.pack("<I", value)
        )
        ifd += struct.pack("<HHI", tag, typ, count) + inline
    ifd += struct.pack("<I", 0)
    data = struct.pack("<2sHI", b"II", 42, ifd_off) + strip + ifd
    assert decode_tiff(data)[3] == bytes([9]) * 30


def test_error_gates():
    with pytest.raises(TiffError, match="magic"):
        decode_tiff(b"GIF89a")
    good = encode_tiff(2, 2, bytes(12))
    lzw = bytearray(good)
    # Compression entry: find tag 259 and patch its SHORT value to 5 (LZW)
    idx = lzw.index(struct.pack("<HHI", 259, 3, 1))
    struct.pack_into("<H", lzw, idx + 8, 5)
    with pytest.raises(TiffError, match="compression"):
        decode_tiff(bytes(lzw))
    with pytest.raises(TiffError, match="truncated TIFF"):
        decode_tiff(good[: len(good) - 40])  # cut into the trailing IFD
    overrun = bytearray(good)
    idx = overrun.index(struct.pack("<HHI", 279, 4, 1))
    struct.pack_into("<I", overrun, idx + 8, 10_000)  # StripByteCounts
    with pytest.raises(TiffError, match="strip extends"):
        decode_tiff(bytes(overrun))
    with pytest.raises(TiffError, match="got"):
        encode_tiff(2, 2, bytes(11))


def test_grid_features_ramp():
    grey = bytes(v for i in range(16) for v in (i * 16, i * 16, i * 16))
    data = encode_tiff(4, 4, grey)
    w, h, ch, px = decode_tiff(data)
    feats = grid_features(w, h, ch, px)
    assert (w, h) == (4, 4)
    assert feats == [round(i * 16 / 255.0, 6) for i in range(16)]


def test_spark_dispatch_and_resize_roundtrip(spark):
    from ndr_import_spark.operators import multimodal as MM

    rgb = bytes(v for i in range(16) for v in (i, i, i))
    rows = [(0, "image", "image/tiff", None, None, None,
             bytearray(encode_tiff(4, 4, rgb)))]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    feat = MM.extract_features(media).collect()[0]
    assert (feat["width"], feat["height"]) == (4, 4)
    resized = MM.resize_images(media, 2, 2).collect()[0]
    out = bytes(resized["payload"])
    assert is_tiff(out)
    w, h, ch, px = decode_tiff(out)
    assert (w, h) == (2, 2)
    assert px[0::3] == bytes([0, 2, 8, 10])
