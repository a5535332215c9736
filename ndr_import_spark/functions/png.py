"""Minimal stdlib PNG codec (zlib + struct) for the multimodal decode path.

Implements the public PNG specification (RFC 2083 / ISO 15948): IHDR/IDAT
/IEND chunk walk, zlib inflate, all five scanline filters (None/Sub/Up/
Average/Paeth), bit-depth 8, colour types 0 (grey), 2 (RGB), 3 (palette),
4 (grey+alpha) and 6 (RGBA). Interlaced images are rejected (Adam7 is not
worth its complexity for feature extraction). The encoder emits filter-0
RGB images — enough to build deterministic test fixtures without any
image library.
"""

from __future__ import annotations

import struct
import zlib

_SIGNATURE = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


class PngError(ValueError):
    pass


def is_png(data: bytes) -> bool:
    return bytes(data[:8]) == _SIGNATURE


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """PNG bytes → (width, height, n_channels, raw pixel bytes row-major).

    Palette images are expanded to RGB; 16-bit depths and interlacing
    raise PngError."""
    data = bytes(data)
    if not is_png(data):
        raise PngError("Not a PNG (bad signature)")
    pos = 8
    width = height = None
    bit_depth = color_type = interlace = 0
    idat = bytearray()
    palette = b""
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        ctype = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + type + body + CRC (CRC not verified)
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
        elif ctype == b"PLTE":
            palette = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
    if width is None:
        raise PngError("No IHDR chunk")
    if interlace:
        raise PngError("Interlaced PNG not supported")
    if bit_depth != 8:
        raise PngError(f"Unsupported bit depth {bit_depth}")
    if color_type not in _CHANNELS:
        raise PngError(f"Unsupported colour type {color_type}")
    channels = _CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    expected = (stride + 1) * height
    if len(raw) < expected:
        raise PngError("Truncated pixel data")

    out = bytearray(stride * height)
    prev = bytearray(stride)
    for y in range(height):
        off = y * (stride + 1)
        ftype = raw[off]
        row = bytearray(raw[off + 1:off + 1 + stride])
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for i in range(channels, stride):
                row[i] = (row[i] + row[i - channels]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = row[i - channels] if i >= channels else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = row[i - channels] if i >= channels else 0
                up_left = prev[i - channels] if i >= channels else 0
                row[i] = (row[i] + _paeth(left, prev[i], up_left)) & 0xFF
        else:
            raise PngError(f"Unknown filter type {ftype}")
        out[y * stride:(y + 1) * stride] = row
        prev = row

    if color_type == 3:  # palette → RGB
        if not palette:
            raise PngError("Palette image without PLTE")
        n_entries = len(palette) // 3
        rgb = bytearray(width * height * 3)
        for i, idx in enumerate(out):
            # an out-of-range index would slice < 3 bytes and silently
            # RESIZE the buffer, shifting every later pixel — refuse
            if idx >= n_entries:
                raise PngError(
                    f"Palette index {idx} out of range ({n_entries} entries)"
                )
            rgb[i * 3:i * 3 + 3] = palette[idx * 3:idx * 3 + 3]
        return width, height, 3, bytes(rgb)
    return width, height, channels, bytes(out)


def encode_png(width: int, height: int, rgb: bytes) -> bytes:
    """(width, height, RGB bytes) → PNG binary (filter 0, no interlace)."""
    if len(rgb) != width * height * 3:
        raise PngError("rgb length must be width*height*3")

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    stride = width * 3
    scanlines = b"".join(
        b"\x00" + rgb[y * stride:(y + 1) * stride] for y in range(height)
    )
    return (
        _SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines))
        + chunk(b"IEND", b"")
    )


def grid_features(width: int, height: int, channels: int, pixels: bytes) -> list[float]:
    """Mean grey intensity over a 4×4 cell partition of the image —
    a deterministic 16-dim feature vector in [0, 1]. Vectorised with
    numpy: a per-pixel Python loop would dominate decode time on real
    photos."""
    import numpy as np

    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, channels)
    if channels >= 3:
        grey = arr[:, :, :3].sum(axis=2, dtype=np.float64) / 3.0
    else:
        grey = arr[:, :, 0].astype(np.float64)
    gy = np.minimum(np.arange(height) * 4 // height, 3)
    gx = np.minimum(np.arange(width) * 4 // width, 3)
    cell = (gy[:, None] * 4 + gx[None, :]).ravel()
    sums_v = np.bincount(cell, weights=grey.ravel(), minlength=16)
    counts_v = np.bincount(cell, minlength=16)
    return [
        round(float(s) / int(c) / 255.0, 6) if c else 0.0
        for s, c in zip(sums_v, counts_v)
    ]


def resize_rgb(
    width: int, height: int, channels: int, pixels: bytes, tw: int, th: int
) -> bytes:
    """Nearest-neighbour resample to (tw, th), returning packed RGB bytes
    (grey replicates to three channels; alpha drops). Deterministic,
    library-free — the index map is pure integer arithmetic."""
    if tw < 1 or th < 1:
        raise ValueError("resize_rgb target must be >= 1x1")
    out = bytearray(tw * th * 3)
    stride = width * channels
    for y in range(th):
        sy = min(y * height // th, height - 1)
        base_in = sy * stride
        base_out = y * tw * 3
        for x in range(tw):
            sx = min(x * width // tw, width - 1)
            o = base_in + sx * channels
            if channels >= 3:
                r, g, b = pixels[o], pixels[o + 1], pixels[o + 2]
            else:
                r = g = b = pixels[o]
            j = base_out + x * 3
            out[j] = r
            out[j + 1] = g
            out[j + 2] = b
    return bytes(out)
