"""Stdlib BMP codec (functions/bmp.py) + multimodal dispatch integration."""

from __future__ import annotations

import struct

import pytest

from ndr_import_spark.functions.bmp import (
    BmpError,
    decode_bmp,
    encode_bmp,
    is_bmp,
)
from ndr_import_spark.functions.png import grid_features


def _rgb(pixels):
    return bytes(v for px in pixels for v in px)


def test_roundtrip_24bit_with_row_padding():
    # width 3 -> 9-byte rows padded to 12: exercises the stride math
    pixels = [(255, 0, 0), (0, 255, 0), (0, 0, 255),
              (1, 2, 3), (4, 5, 6), (7, 8, 9)]
    data = encode_bmp(3, 2, _rgb(pixels))
    assert is_bmp(data)
    w, h, ch, out = decode_bmp(data)
    assert (w, h, ch) == (3, 2, 3)
    assert out == _rgb(pixels)


def test_bottom_up_storage_order():
    # encode writes bottom-up; the first pixel ROW in the file must be the
    # LAST image row, BGR-packed
    data = encode_bmp(1, 2, _rgb([(10, 20, 30), (40, 50, 60)]))
    pix_offset = struct.unpack_from("<I", data, 10)[0]
    assert data[pix_offset : pix_offset + 3] == bytes([60, 50, 40])


def test_top_down_negative_height_decodes():
    data = bytearray(encode_bmp(2, 2, _rgb([(1, 1, 1), (2, 2, 2),
                                            (3, 3, 3), (4, 4, 4)])))
    # flip to top-down: negate biHeight and reverse the two 8-byte rows
    struct.pack_into("<i", data, 22, -2)
    off = struct.unpack_from("<I", data, 10)[0]
    row0 = bytes(data[off : off + 8])
    row1 = bytes(data[off + 8 : off + 16])
    data[off : off + 8] = row1
    data[off + 8 : off + 16] = row0
    w, h, ch, out = decode_bmp(bytes(data))
    assert (w, h) == (2, 2)
    assert out == _rgb([(1, 1, 1), (2, 2, 2), (3, 3, 3), (4, 4, 4)])


def _bmp_8bit(width, height, indices, palette):
    row_stride = (width + 3) & ~3
    pix_offset = 14 + 40 + 4 * len(palette)
    size = pix_offset + row_stride * height
    head = struct.pack("<2sIHHI", b"BM", size, 0, 0, pix_offset)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 8, 0,
                       row_stride * height, 0, 0, len(palette), 0)
    pal = b"".join(bytes([b, g, r, 0]) for (r, g, b) in palette)
    rows = []
    for y in range(height - 1, -1, -1):
        row = bytes(indices[y * width : (y + 1) * width])
        rows.append(row + b"\x00" * (row_stride - width))
    return head + info + pal + b"".join(rows)


def test_8bit_palettised_decode():
    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255)]
    data = _bmp_8bit(2, 2, [0, 1, 2, 0], pal)
    w, h, ch, out = decode_bmp(data)
    assert (w, h, ch) == (2, 2, 3)
    assert out == _rgb([(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 0, 0)])


def test_8bit_palette_index_out_of_range():
    data = _bmp_8bit(1, 1, [2], [(9, 9, 9)])
    with pytest.raises(BmpError, match="palette index"):
        decode_bmp(data)


def test_32bit_bgra_alpha_dropped():
    pix_offset = 14 + 40
    head = struct.pack("<2sIHHI", b"BM", pix_offset + 8, 0, 0, pix_offset)
    info = struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 32, 0, 8, 0, 0, 0, 0)
    px = bytes([30, 20, 10, 200, 60, 50, 40, 7])  # BGRA BGRA
    w, h, ch, out = decode_bmp(head + info + px)
    assert (w, h, ch) == (2, 1, 3)
    assert out == bytes([10, 20, 30, 40, 50, 60])


def test_error_paths():
    with pytest.raises(BmpError, match="magic"):
        decode_bmp(b"PNG whatever")
    with pytest.raises(BmpError, match="truncated BMP header"):
        decode_bmp(b"BM" + bytes(10))
    good = encode_bmp(2, 2, bytes(12))
    with pytest.raises(BmpError, match="truncated BMP pixel"):
        decode_bmp(good[:-4])
    rle = bytearray(good)
    struct.pack_into("<I", rle, 30, 1)  # BI_RLE8
    with pytest.raises(BmpError, match="compression"):
        decode_bmp(bytes(rle))
    mono = bytearray(good)
    struct.pack_into("<H", mono, 28, 1)  # 1-bit
    with pytest.raises(BmpError, match="bit depth"):
        decode_bmp(bytes(mono))
    with pytest.raises(BmpError, match="got"):
        encode_bmp(2, 2, bytes(11))


def test_image_decoder_grid_features():
    # 4x4 grey ramp: grid_features over a 4x4 image is the per-pixel value
    grey = bytes(v for i in range(16) for v in (i * 16, i * 16, i * 16))
    data = encode_bmp(4, 4, grey)
    w, h, ch, px = decode_bmp(data)
    feats = grid_features(w, h, ch, px)
    assert (w, h) == (4, 4)
    assert feats == [round(i * 16 / 255.0, 6) for i in range(16)]


def test_spark_dispatch_and_resize_roundtrip(spark):
    from ndr_import_spark.operators import multimodal as MM

    rgb = bytes(v for i in range(16) for v in (i, i, i))
    rows = [(0, "image", "image/bmp", None, None, None,
             bytearray(encode_bmp(4, 4, rgb)))]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    feat = MM.extract_features(media).collect()[0]
    assert (feat["width"], feat["height"]) == (4, 4)
    resized = MM.resize_images(media, 2, 2).collect()[0]
    out = bytes(resized["payload"])
    assert is_bmp(out)
    w, h, ch, px = decode_bmp(out)
    assert (w, h) == (2, 2)
    # nearest-neighbour of the 4x4 ramp at stride 2: pixels 0,2,8,10
    assert px[0::3] == bytes([0, 2, 8, 10])
