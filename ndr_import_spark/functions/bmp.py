"""Stdlib BMP (Windows DIB) codec — decode + encode, no third-party libs.

Clean-room from the public BITMAPFILEHEADER / BITMAPINFOHEADER layout
([MS-WMF] 2.2.2.9 / Windows GDI documentation): 'BM' file header, 40-byte
(or larger) info header, BI_RGB uncompressed pixel data with 4-byte-padded
rows stored bottom-up (top-down when biHeight is negative). Supported on
decode: 24-bit BGR, 32-bit BGRA (alpha dropped), and 8-bit palettised.
Encode always writes 24-bit BI_RGB bottom-up — the lowest common
denominator every viewer accepts.

The reference repo (`lib/ndr_import`) has no image handling; this extends
the same net-new multimodal surface as functions/png.py / jpeg.py / gif.py
and shares their `(width, height, channels, rgb_bytes)` contract, which
`png.grid_features` featurises.
"""

from __future__ import annotations

import struct


class BmpError(ValueError):
    pass


def is_bmp(data: bytes) -> bool:
    return len(data) >= 2 and data[:2] == b"BM"


def decode_bmp(data: bytes) -> tuple[int, int, int, bytes]:
    """→ (width, height, channels, packed pixel bytes).

    channels is 3 for 24/32-bit and palettised images (palette entries are
    RGBQUADs, expanded to RGB), matching the PNG/GIF decoders' contract."""
    if not is_bmp(data):
        raise BmpError("not a BMP payload (missing 'BM' magic)")
    if len(data) < 54:
        raise BmpError("truncated BMP header")
    pix_offset = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise BmpError(f"unsupported DIB header size {hdr_size}")
    width, height_raw = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if planes != 1:
        raise BmpError(f"bad plane count {planes}")
    if compression != 0:  # BI_RGB only; BI_RLE8/4, BI_BITFIELDS unsupported
        raise BmpError(f"unsupported BMP compression {compression}")
    if bpp not in (8, 24, 32):
        raise BmpError(f"unsupported BMP bit depth {bpp}")
    if width <= 0 or height_raw == 0:
        raise BmpError(f"bad BMP dimensions {width}x{height_raw}")
    top_down = height_raw < 0
    height = -height_raw if top_down else height_raw

    palette: list[tuple[int, int, int]] | None = None
    if bpp == 8:
        n_colors = struct.unpack_from("<I", data, 46)[0] or 256
        pal_off = 14 + hdr_size
        if pal_off + 4 * n_colors > len(data):
            raise BmpError("truncated BMP palette")
        palette = [
            # RGBQUAD is little-endian BGR0
            (data[pal_off + 4 * i + 2], data[pal_off + 4 * i + 1],
             data[pal_off + 4 * i])
            for i in range(n_colors)
        ]

    bytes_per_px = bpp // 8
    row_stride = (width * bytes_per_px + 3) & ~3
    need = pix_offset + row_stride * height
    if need > len(data):
        raise BmpError("truncated BMP pixel data")

    # slice-based swizzles, not per-pixel Python loops: a 12 MP photo is
    # ~12M pixels and the loop form dominates decode time in mapInPandas
    pal_r = pal_g = pal_b = b""
    if palette is not None:
        pal_r = bytes(p[0] for p in palette)
        pal_g = bytes(p[1] for p in palette)
        pal_b = bytes(p[2] for p in palette)
    out = bytearray(width * height * 3)
    for y in range(height):
        src_row = y if top_down else height - 1 - y
        base = pix_offset + src_row * row_stride
        dst = y * width * 3
        row = data[base : base + width * bytes_per_px]
        if bpp == 8:
            if max(row) >= len(palette):
                raise BmpError(
                    f"palette index {max(row)} out of range"
                )
            out[dst : dst + width * 3 : 3] = row.translate(
                pal_r.ljust(256, b"\x00")
            )
            out[dst + 1 : dst + width * 3 : 3] = row.translate(
                pal_g.ljust(256, b"\x00")
            )
            out[dst + 2 : dst + width * 3 : 3] = row.translate(
                pal_b.ljust(256, b"\x00")
            )
        else:
            out[dst : dst + width * 3 : 3] = row[2::bytes_per_px]
            out[dst + 1 : dst + width * 3 : 3] = row[1::bytes_per_px]
            out[dst + 2 : dst + width * 3 : 3] = row[0::bytes_per_px]
    return width, height, 3, bytes(out)


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """24-bit BI_RGB bottom-up encode of packed RGB bytes."""
    if width < 1 or height < 1:
        raise BmpError("encode_bmp needs positive dimensions")
    if len(rgb) != width * height * 3:
        raise BmpError(
            f"encode_bmp: got {len(rgb)} bytes for {width}x{height}x3"
        )
    row_stride = (width * 3 + 3) & ~3
    pad = b"\x00" * (row_stride - width * 3)
    pix_offset = 14 + 40
    size = pix_offset + row_stride * height
    head = struct.pack("<2sIHHI", b"BM", size, 0, 0, pix_offset)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0,
        row_stride * height, 2835, 2835, 0, 0,
    )
    rows = []
    for y in range(height - 1, -1, -1):  # bottom-up
        base = y * width * 3
        row = rgb[base : base + width * 3]
        # RGB → BGR per pixel
        bgr = bytearray(len(row))
        bgr[0::3] = row[2::3]
        bgr[1::3] = row[1::3]
        bgr[2::3] = row[0::3]
        rows.append(bytes(bgr) + pad)
    return head + info + b"".join(rows)
