"""Stdlib baseline-TIFF codec — decode + encode, no third-party libs.

Clean-room from the public TIFF 6.0 specification (Adobe, 1992): II/MM
byte orders, classic 42-magic IFDs, strip-organised baseline images.
Supported on decode: 8-bit grayscale (PhotometricInterpretation 0/1) and
8-bit RGB(A) (Photometric 2, extra samples dropped), Compression 1
(none) and 32773 (PackBits, spec §9), any RowsPerStrip. Tiles, palette
colour, LZW/JPEG compression and non-8-bit depths raise `TiffError` —
honest unsupported-profile gates. Encode writes II, uncompressed RGB,
single strip.

The reference repo (`lib/ndr_import`) has no image handling; this extends
the same net-new multimodal surface as functions/png.py / bmp.py and
shares their `(width, height, channels, bytes)` contract, which
`png.grid_features` featurises.
"""

from __future__ import annotations

import struct


class TiffError(ValueError):
    pass


def is_tiff(data: bytes) -> bool:
    return len(data) >= 4 and data[:4] in (b"II*\x00", b"MM\x00*")


_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4}  # BYTE, ASCII, SHORT, LONG


def _read_ifd_values(data: bytes, endian: str, typ: int, count: int,
                     inline: bytes) -> list[int]:
    size = _TYPE_SIZES.get(typ)
    if size is None:
        raise TiffError(f"unsupported IFD entry type {typ}")
    total = size * count
    if total <= 4:
        buf = inline[:total]
    else:
        (off,) = struct.unpack(endian + "I", inline)
        if off + total > len(data):
            raise TiffError("IFD value offset out of range")
        buf = data[off : off + total]
    fmt = {1: "B", 2: "B", 3: "H", 4: "I"}[typ]
    return list(struct.unpack(endian + fmt * count, buf))


def _parse_ifd(data: bytes) -> tuple[str, dict[int, list[int]]]:
    endian = "<" if data[:2] == b"II" else ">"
    (ifd_off,) = struct.unpack_from(endian + "I", data, 4)
    if ifd_off + 2 > len(data):
        raise TiffError("truncated TIFF: IFD offset out of range")
    (n_entries,) = struct.unpack_from(endian + "H", data, ifd_off)
    tags: dict[int, list[int]] = {}
    pos = ifd_off + 2
    if pos + 12 * n_entries > len(data):
        raise TiffError("truncated TIFF IFD")
    for _ in range(n_entries):
        tag, typ, count = struct.unpack_from(endian + "HHI", data, pos)
        tags[tag] = _read_ifd_values(
            data, endian, typ, count, data[pos + 8 : pos + 12]
        )
        pos += 12
    return endian, tags


def _unpackbits(src: bytes, expected: int) -> bytes:
    """TIFF PackBits (spec §9): n in [0,127] → copy n+1 literal bytes;
    n in [-127,-1] → repeat next byte 1-n times; -128 is a no-op."""
    out = bytearray()
    i = 0
    n = len(src)
    while i < n and len(out) < expected:
        b = src[i]
        i += 1
        if b < 128:
            if i + b + 1 > n:
                raise TiffError("truncated PackBits literal run")
            out += src[i : i + b + 1]
            i += b + 1
        elif b == 128:
            continue
        else:
            if i >= n:
                raise TiffError("truncated PackBits repeat run")
            out += bytes([src[i]]) * (257 - b)
            i += 1
    if len(out) < expected:
        raise TiffError("PackBits stream ended early")
    return bytes(out[:expected])


def decode_tiff(data: bytes) -> tuple[int, int, int, bytes]:
    """→ (width, height, channels, packed pixel bytes); channels 1 (grey)
    or 3 (RGB — alpha/extra samples dropped)."""
    if not is_tiff(data):
        raise TiffError("not a TIFF payload (missing II*/MM* magic)")
    endian, tags = _parse_ifd(data)

    def one(tag: int, default: int | None = None) -> int:
        if tag in tags:
            return tags[tag][0]
        if default is None:
            raise TiffError(f"missing required TIFF tag {tag}")
        return default

    width = one(256)
    height = one(257)
    if width < 1 or height < 1:
        raise TiffError(f"bad TIFF dimensions {width}x{height}")
    bits = tags.get(258, [1])
    spp = one(277, 1)
    photometric = one(262)
    compression = one(259, 1)
    if any(b != 8 for b in bits):
        raise TiffError(f"unsupported TIFF bit depths {bits} (8-bit only)")
    if 322 in tags or 323 in tags:
        raise TiffError("tiled TIFF unsupported (strips only)")
    if compression not in (1, 32773):
        raise TiffError(
            f"unsupported TIFF compression {compression} "
            "(none and PackBits only)"
        )
    if photometric in (0, 1):
        if spp != 1:
            raise TiffError(f"grayscale TIFF with {spp} samples")
        out_ch = 1
    elif photometric == 2:
        if spp < 3:
            raise TiffError(f"RGB TIFF with {spp} samples")
        out_ch = 3
    else:
        raise TiffError(
            f"unsupported PhotometricInterpretation {photometric} "
            "(gray and RGB only)"
        )
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise TiffError("missing/mismatched strip offsets and byte counts")
    rows_per_strip = one(278, height)

    row_bytes = width * spp
    raw = bytearray()
    rows_done = 0
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        if off + cnt > len(data):
            raise TiffError("strip extends past end of file")
        strip = data[off : off + cnt]
        n_rows = min(rows_per_strip, height - rows_done)
        expected = n_rows * row_bytes
        if compression == 32773:
            strip = _unpackbits(strip, expected)
        elif len(strip) < expected:
            raise TiffError(f"strip {si} shorter than its rows")
        raw += strip[:expected]
        rows_done += n_rows
    if rows_done < height:
        raise TiffError("strips cover fewer rows than ImageLength")

    if out_ch == 1:
        px = bytes(raw)
        if photometric == 0:  # WhiteIsZero: invert to BlackIsZero
            px = bytes(255 - b for b in px)
        return width, height, 1, px
    if spp == 3:
        return width, height, 3, bytes(raw)
    # drop extra samples (alpha etc.) — strided slices, not a pixel loop
    out = bytearray(width * height * 3)
    for ch in range(3):
        out[ch::3] = raw[ch::spp]
    return width, height, 3, bytes(out)


def encode_tiff(width: int, height: int, rgb: bytes) -> bytes:
    """Minimal II baseline encode: uncompressed RGB, one strip."""
    if width < 1 or height < 1:
        raise TiffError("encode_tiff needs positive dimensions")
    if len(rgb) != width * height * 3:
        raise TiffError(
            f"encode_tiff: got {len(rgb)} bytes for {width}x{height}x3"
        )
    # layout: header(8) | pixel data | BitsPerSample array(6) | IFD
    pix_off = 8
    bps_off = pix_off + len(rgb)
    ifd_off = bps_off + 6
    entries = [
        (256, 4, 1, width),        # ImageWidth
        (257, 4, 1, height),       # ImageLength
        (258, 3, 3, bps_off),      # BitsPerSample -> offset (3 SHORTs)
        (259, 3, 1, 1),            # Compression: none
        (262, 3, 1, 2),            # Photometric: RGB
        (273, 4, 1, pix_off),      # StripOffsets
        (277, 3, 1, 3),            # SamplesPerPixel
        (278, 4, 1, height),       # RowsPerStrip
        (279, 4, 1, len(rgb)),     # StripByteCounts
    ]
    ifd = struct.pack("<H", len(entries))
    for tag, typ, count, value in entries:
        if typ == 3 and count == 1:
            inline = struct.pack("<HH", value, 0)
        else:
            inline = struct.pack("<I", value)
        ifd += struct.pack("<HHI", tag, typ, count) + inline
    ifd += struct.pack("<I", 0)  # no next IFD
    return (
        struct.pack("<2sHI", b"II", 42, ifd_off)
        + rgb
        + struct.pack("<HHH", 8, 8, 8)
        + ifd
    )
