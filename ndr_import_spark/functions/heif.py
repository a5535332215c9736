"""AVIF / HEIC (ISO-BMFF image) support: clean-room metadata probe +
in-place EXIF GPS scrub, with pixel decode through an env-gated binding
to the system libheif.

Why it exists: AVIF is the fastest-growing image format in web crawls
(HEIC dominates phone camera uploads), and a training-data pipeline
needs at minimum (a) dimensions/codec without decoding, (b) GPS/PII
scrubbing, (c) a decode path for feature extraction. The container is
ISO-BMFF (the same public box structure sources/mediameta.py already
walks for MP4): `meta` → `pitm`/`iinf`/`iprp`/`ipma`/`iloc` item
tables with `ispe` (dims), `irot`/`imir` (orientation), `pixi` (bit
depth), `av1C`/`hvcC` (codec config) properties — all parsed clean-room
below from the public box layouts.

PIXELS are different: the payload is AV1 (or HEVC) — a full video
codec whose clean-room decode is out of scope (the VP8 keyframe
decoder, functions/vp8.py, is ~1000 lines for a far simpler codec).
The posture here is the library's injected-decoder contract: when the
system libheif is present (this container ships libheif 1.15 with
aom/dav1d/x265/de265), `decode_heif` uses it via
ctypes — opaque handles and plain getters only, no struct layouts
except the by-value heif_error; when absent it raises
NotImplementedError with a clear message, exactly like the other
multimodal env gates.

Scrub semantics: `scrub_heif_exif` zeroes every Exif item's extents IN
PLACE (located via `iloc`, construction method 0). No box is resized,
so the codec payload and every offset in the file survive byte-exact —
the same never-touch-entropy-data contract as the WebP/JPEG scrubs;
a zeroed Exif block no longer parses as TIFF, so GPS is gone.

No counterpart in the reference (publichealthengland/ndr_import has no
image handling).
"""

from __future__ import annotations

import struct

from ndr_import_spark.sources.mediameta import _walk_boxes

__all__ = [
    "HeifError",
    "decode_heif",
    "heif_metadata",
    "is_heif",
    "scrub_heif_exif",
]

_BRANDS = {
    b"avif", b"avis", b"heic", b"heix", b"heim", b"heis", b"hevc",
    b"hevx", b"mif1", b"msf1",
}


class HeifError(ValueError):
    pass


def is_heif(data: bytes) -> bool:
    data = bytes(data[:32])
    if len(data) < 12 or data[4:8] != b"ftyp":
        return False
    return data[8:12] in _BRANDS


# ------------------------------------------------------------- metadata
#
# Bounds discipline (r10, ADVICE): every read below goes through _u8 /
# _unpack / a length-checked slice so a malformed meta box (empty pitm,
# oversized ipma count, truncated iloc entry) raises HeifError — never
# IndexError — keeping scrub_image_metadata's documented
# "unparseable payloads pass through unchanged" contract intact.


def _u8(data: bytes, pos: int) -> int:
    if pos >= len(data) or pos < 0:
        raise HeifError("truncated box (byte read past end)")
    return data[pos]


def _unpack(fmt: str, data: bytes, pos: int):
    try:
        return struct.unpack_from(fmt, data, pos)
    except struct.error as exc:
        raise HeifError(f"truncated box: {exc}") from None


def _parse_iloc(data: bytes, body: int, end: int) -> dict[int, tuple]:
    """item_id -> (construction_method, [(offset, length), ...]).
    Extent offsets for method 0 are absolute file offsets; method 1
    (idat-relative) and 2 (item-relative) entries are preserved so
    callers can refuse loudly instead of silently skipping them."""
    if body + 8 > end:
        raise HeifError("truncated iloc")
    version = _u8(data, body)
    pos = body + 4
    sizes = _u8(data, pos)
    offset_size, length_size = sizes >> 4, sizes & 15
    base_size = _u8(data, pos + 1) >> 4
    index_size = (_u8(data, pos + 1) & 15) if version in (1, 2) else 0
    pos += 2
    if version < 2:
        (count,) = _unpack(">H", data, pos)
        pos += 2
    else:
        (count,) = _unpack(">I", data, pos)
        pos += 4

    def read_n(p: int, n: int) -> tuple[int, int]:
        if p + n > len(data):
            raise HeifError("truncated iloc extent")
        v = int.from_bytes(data[p:p + n], "big") if n else 0
        return v, p + n

    out: dict[int, tuple] = {}
    for _ in range(count):
        if version < 2:
            (item_id,) = _unpack(">H", data, pos)
            pos += 2
        else:
            (item_id,) = _unpack(">I", data, pos)
            pos += 4
        method = 0
        if version in (1, 2):
            (cm,) = _unpack(">H", data, pos)
            method = cm & 15
            pos += 2
        pos += 2  # data_reference_index
        base, pos = read_n(pos, base_size)
        (n_ext,) = _unpack(">H", data, pos)
        pos += 2
        extents = []
        for _ in range(n_ext):
            if index_size:
                _, pos = read_n(pos, index_size)
            off, pos = read_n(pos, offset_size)
            ln, pos = read_n(pos, length_size)
            extents.append((base + off, ln))
        out[item_id] = (method, extents)
    return out


def _parse_meta(data: bytes):
    """(primary_id, items{id: 4cc type}, props[(4cc, body, end)],
    assoc{item_id: [1-based prop indexes]}, iloc{...})."""
    meta = None
    for btype, body, end in _walk_boxes(data, 0, len(data)):
        if btype == b"meta":
            meta = (body + 4, end)  # fullbox: skip version/flags
            break
    if meta is None:
        raise HeifError("no meta box")
    primary = None
    items: dict[int, bytes] = {}
    props: list = []
    assoc: dict[int, list[int]] = {}
    iloc: dict[int, list] = {}
    for btype, body, end in _walk_boxes(data, meta[0], meta[1]):
        if btype == b"pitm":
            if body + 6 > end:
                raise HeifError("truncated pitm box")
            v = _u8(data, body)
            if v == 0:
                (primary,) = _unpack(">H", data, body + 4)
            else:
                (primary,) = _unpack(">I", data, body + 4)
        elif btype == b"iinf":
            v = _u8(data, body)
            pos = body + 4
            if v == 0:
                (_n,) = _unpack(">H", data, pos)
                pos += 2
            else:
                (_n,) = _unpack(">I", data, pos)
                pos += 4
            for it, ib, ie in _walk_boxes(data, pos, end):
                if it != b"infe":
                    continue
                iv = _u8(data, ib)
                if iv >= 2:
                    (iid,) = _unpack(
                        ">H" if iv == 2 else ">I", data, ib + 4)
                    # fullbox(4) + id(2|4) + protection(2) -> item_type
                    toff = ib + (8 if iv == 2 else 10)
                    if toff + 4 > len(data):
                        raise HeifError("truncated infe item_type")
                    items[iid] = data[toff:toff + 4]
        elif btype == b"iprp":
            for pt, pb, pe in _walk_boxes(data, body, end):
                if pt == b"ipco":
                    props = list(_walk_boxes(data, pb, pe))
                elif pt == b"ipma":
                    v = _u8(data, pb)
                    flags = int.from_bytes(data[pb + 1:pb + 4], "big")
                    pos = pb + 4
                    (n,) = _unpack(">I", data, pos)
                    pos += 4
                    for _ in range(n):
                        if v < 1:
                            (iid,) = _unpack(">H", data, pos)
                            pos += 2
                        else:
                            (iid,) = _unpack(">I", data, pos)
                            pos += 4
                        cnt = _u8(data, pos)
                        pos += 1
                        idxs = []
                        for _ in range(cnt):
                            if flags & 1:
                                (a,) = _unpack(">H", data, pos)
                                pos += 2
                                idxs.append(a & 0x7FFF)
                            else:
                                idxs.append(_u8(data, pos) & 0x7F)
                                pos += 1
                        assoc[iid] = idxs
        elif btype == b"iloc":
            iloc = _parse_iloc(data, body, end)
    return primary, items, props, assoc, iloc


def heif_metadata(data: bytes) -> dict:
    """Clean-room probe of an AVIF/HEIC file: brand, codec, primary
    image dims (ispe of the primary item via pitm->ipma, first-ispe
    fallback), rotation/mirror, bit depth, item counts, EXIF presence
    and GPS microdegrees (the JPEG/WebP IFD walk reused). Header-sized
    cost: only the meta box and the Exif extents are touched — never
    the codec payload."""
    data = bytes(data)
    if not is_heif(data):
        raise HeifError("not an AVIF/HEIC (ftyp brand) file")
    brand = data[8:12].decode("ascii", "replace")
    primary, items, props, assoc, iloc = _parse_meta(data)

    def prop_for(iid, fourcc):
        idxs = assoc.get(iid)
        if idxs:
            for ix in idxs:
                if 1 <= ix <= len(props) and props[ix - 1][0] == fourcc:
                    return props[ix - 1]
        for p in props:
            if p[0] == fourcc:
                return p
        return None

    out = {
        "brand": brand,
        "codec": None,
        "width": None,
        "height": None,
        "rotation": 0,
        "mirror": None,
        "bit_depth": None,
        "n_items": len(items),
        "has_exif": False,
        "has_gps": False,
        "lat_micro": None,
        "lon_micro": None,
    }
    for fourcc, name in ((b"av1C", "av1"), (b"hvcC", "hevc")):
        if prop_for(primary, fourcc) is not None:
            out["codec"] = name
            break
    p = prop_for(primary, b"ispe")
    if p is not None:
        w, h = _unpack(">II", data, p[1] + 4)
        out["width"], out["height"] = w, h
    p = prop_for(primary, b"irot")
    if p is not None:
        out["rotation"] = (_u8(data, p[1]) & 3) * 90
    p = prop_for(primary, b"imir")
    if p is not None:
        out["mirror"] = "vertical" if _u8(data, p[1]) & 1 else "horizontal"
    p = prop_for(primary, b"pixi")
    if p is not None:
        n = _u8(data, p[1] + 4)
        if n:
            out["bit_depth"] = _u8(data, p[1] + 5)
    for iid, typ in items.items():
        if typ == b"Exif":
            # has_exif reflects the item table alone — an Exif infe
            # with NO iloc entry, or an idat-/item-relative (method
            # 1/2) one, must still show up here so quarantine routing
            # has a signal (r10 ADVICE: scrub_heif_exif refuses all
            # those shapes; the probe must not simultaneously claim
            # has_exif=False).
            out["has_exif"] = True
            entry = iloc.get(iid)
            if entry is None:
                break
            method, extents = entry
            if method != 0 or not extents:
                break
            off, ln = extents[0]
            payload = data[off:off + ln]
            if len(payload) >= 4:
                (toff,) = struct.unpack_from(">I", payload, 0)
                try:
                    from ndr_import_spark.functions.exif import parse_exif_tiff

                    t = parse_exif_tiff(payload[4 + toff:])
                    out["has_gps"] = bool(t.get("has_gps"))
                    out["lat_micro"] = t.get("lat_micro")
                    out["lon_micro"] = t.get("lon_micro")
                except Exception:  # noqa: BLE001 - malformed Exif: presence only
                    pass
            break
    return out


def scrub_heif_exif(data: bytes) -> bytes:
    """Zero every Exif item's extents in place. No box is moved or
    resized, so the codec payload — and every file offset — survives
    byte-exact; the zeroed block no longer parses as TIFF, so GPS and
    the rest of the Exif content are unrecoverable.

    Refusal over silence (r10 ADVICE): an Exif item this function
    CANNOT zero — no iloc entry, iloc construction method 1/2
    (idat-/item-relative storage), no extents, or an extent that
    overruns the file — raises HeifError instead of returning the file
    as "scrubbed" with the PII still in it. Callers
    (scrub_image_metadata) route those payloads to quarantine."""
    data = bytearray(bytes(data))
    if not is_heif(data):
        raise HeifError("not an AVIF/HEIC (ftyp brand) file")
    _, items, _, _, iloc = _parse_meta(bytes(data))
    for iid, typ in items.items():
        if typ != b"Exif":
            continue
        entry = iloc.get(iid)
        if entry is None:
            raise HeifError(
                f"Exif item {iid} has no iloc entry — cannot scrub in place"
            )
        method, extents = entry
        if method != 0:
            raise HeifError(
                f"Exif item {iid} uses iloc construction method {method} "
                "(idat/item-relative) — in-place scrub unsupported, refuse "
                "rather than silently no-op"
            )
        if not extents:
            raise HeifError(f"Exif item {iid} has no extents")
        for off, ln in extents:
            if off < 0 or ln < 0 or off + ln > len(data):
                raise HeifError(
                    f"Exif item {iid} extent ({off}, {ln}) overruns the file"
                )
            data[off:off + ln] = bytes(ln)
    return bytes(data)


# ------------------------------------------------- env-gated pixel decode

_LIBHEIF = None


def _load_libheif():
    global _LIBHEIF
    if _LIBHEIF is None:
        import ctypes

        try:
            lib = ctypes.CDLL("libheif.so.1")

            class Err(ctypes.Structure):
                _fields_ = [
                    ("code", ctypes.c_int),
                    ("subcode", ctypes.c_int),
                    ("message", ctypes.c_char_p),
                ]

            lib.heif_context_alloc.restype = ctypes.c_void_p
            lib.heif_context_free.argtypes = [ctypes.c_void_p]
            lib.heif_context_read_from_memory_without_copy.restype = Err
            lib.heif_context_read_from_memory_without_copy.argtypes = [
                ctypes.c_void_p, ctypes.c_char_p, ctypes.c_size_t,
                ctypes.c_void_p,
            ]
            lib.heif_context_get_primary_image_handle.restype = Err
            lib.heif_context_get_primary_image_handle.argtypes = [
                ctypes.c_void_p, ctypes.POINTER(ctypes.c_void_p),
            ]
            lib.heif_image_handle_get_width.restype = ctypes.c_int
            lib.heif_image_handle_get_width.argtypes = [ctypes.c_void_p]
            lib.heif_image_handle_get_height.restype = ctypes.c_int
            lib.heif_image_handle_get_height.argtypes = [ctypes.c_void_p]
            lib.heif_image_handle_release.argtypes = [ctypes.c_void_p]
            lib.heif_decode_image.restype = Err
            lib.heif_decode_image.argtypes = [
                ctypes.c_void_p, ctypes.POINTER(ctypes.c_void_p),
                ctypes.c_int, ctypes.c_int, ctypes.c_void_p,
            ]
            lib.heif_image_get_plane_readonly.restype = ctypes.POINTER(
                ctypes.c_uint8)
            lib.heif_image_get_plane_readonly.argtypes = [
                ctypes.c_void_p, ctypes.c_int, ctypes.POINTER(ctypes.c_int),
            ]
            lib.heif_image_release.argtypes = [ctypes.c_void_p]
            _LIBHEIF = (lib, Err)
        except OSError:
            _LIBHEIF = False
    return _LIBHEIF


def decode_heif(data: bytes) -> tuple[int, int, int, bytes]:
    """(width, height, 3, interleaved RGB bytes) via the system libheif
    — the env-gated production decode path for AV1/HEVC payloads (a
    clean-room AV1 decoder is out of scope; see module docstring).
    Raises NotImplementedError when libheif.so.1 is absent."""
    import ctypes

    loaded = _load_libheif()
    if not loaded:
        raise NotImplementedError(
            "AVIF/HEIC pixel decode needs the system libheif (libheif.so.1); "
            "metadata probe + EXIF scrub work without it (heif_metadata / "
            "scrub_heif_exif)"
        )
    lib, _err = loaded
    data = bytes(data)
    ctx = ctypes.c_void_p(lib.heif_context_alloc())
    try:
        e = lib.heif_context_read_from_memory_without_copy(
            ctx, data, len(data), None)
        if e.code:
            raise HeifError(
                f"libheif parse failed: {(e.message or b'?').decode()}")
        handle = ctypes.c_void_p()
        e = lib.heif_context_get_primary_image_handle(ctx, ctypes.byref(handle))
        if e.code:
            raise HeifError(
                f"no primary image: {(e.message or b'?').decode()}")
        try:
            img = ctypes.c_void_p()
            # colorspace RGB (1), chroma interleaved RGB (10)
            e = lib.heif_decode_image(handle, ctypes.byref(img), 1, 10, None)
            if e.code:
                raise HeifError(
                    f"libheif decode failed: {(e.message or b'?').decode()}")
            try:
                w = lib.heif_image_handle_get_width(handle)
                h = lib.heif_image_handle_get_height(handle)
                stride = ctypes.c_int()
                p = lib.heif_image_get_plane_readonly(
                    img, 10, ctypes.byref(stride))
                if not p:
                    raise HeifError("libheif returned no pixel plane")
                rows = []
                base = ctypes.addressof(p.contents)
                for y in range(h):
                    rows.append(ctypes.string_at(base + y * stride.value,
                                                 w * 3))
                return w, h, 3, b"".join(rows)
            finally:
                lib.heif_image_release(img)
        finally:
            lib.heif_image_handle_release(handle)
    finally:
        lib.heif_context_free(ctx)


def libheif_encode_rgb(rgb: bytes, width: int, height: int,
                       codec: str = "av1",
                       exif_tiff: bytes | None = None) -> bytes:
    """Encode interleaved RGB24 as AVIF (codec='av1') or HEIC ('hevc')
    with the SYSTEM libheif — the fixture-side reference encoder for
    the probe/scrub/decode gates (the libwebp_encode_rgb pattern).
    Optionally attaches an Exif item (raw TIFF body). Uses a temp file
    for the container write (libheif's memory writer needs a callback
    struct; the file round-trip keeps the ctypes surface to plain
    getters). Raises NotImplementedError when libheif is absent."""
    import ctypes
    import os
    import tempfile

    loaded = _load_libheif()
    if not loaded:
        raise NotImplementedError("libheif.so.1 not available")
    lib, Err = loaded
    for name, args in (
        ("heif_context_get_encoder_for_format",
         [ctypes.c_void_p, ctypes.c_int, ctypes.POINTER(ctypes.c_void_p)]),
        ("heif_image_create",
         [ctypes.c_int, ctypes.c_int, ctypes.c_int, ctypes.c_int,
          ctypes.POINTER(ctypes.c_void_p)]),
        ("heif_image_add_plane",
         [ctypes.c_void_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
          ctypes.c_int]),
        ("heif_context_encode_image",
         [ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
          ctypes.c_void_p, ctypes.POINTER(ctypes.c_void_p)]),
        ("heif_context_add_exif_metadata",
         [ctypes.c_void_p, ctypes.c_void_p, ctypes.c_char_p, ctypes.c_int]),
        ("heif_context_write_to_file", [ctypes.c_void_p, ctypes.c_char_p]),
    ):
        f = getattr(lib, name)
        f.restype = Err
        f.argtypes = args
    lib.heif_image_get_plane.restype = ctypes.POINTER(ctypes.c_uint8)
    lib.heif_image_get_plane.argtypes = [
        ctypes.c_void_p, ctypes.c_int, ctypes.POINTER(ctypes.c_int),
    ]

    def ck(e):
        if e.code:
            raise HeifError(
                f"libheif encode failed: {(e.message or b'?').decode()}")

    fmt = {"av1": 4, "hevc": 1}[codec]
    ctx = ctypes.c_void_p(lib.heif_context_alloc())
    try:
        enc = ctypes.c_void_p()
        ck(lib.heif_context_get_encoder_for_format(ctx, fmt, ctypes.byref(enc)))
        img = ctypes.c_void_p()
        ck(lib.heif_image_create(width, height, 1, 10, ctypes.byref(img)))
        ck(lib.heif_image_add_plane(img, 10, width, height, 8))
        stride = ctypes.c_int()
        p = lib.heif_image_get_plane(img, 10, ctypes.byref(stride))
        base = ctypes.addressof(p.contents)
        for y in range(height):
            ctypes.memmove(base + y * stride.value,
                           rgb[y * width * 3:(y + 1) * width * 3], width * 3)
        handle = ctypes.c_void_p()
        ck(lib.heif_context_encode_image(ctx, img, enc, None,
                                         ctypes.byref(handle)))
        if exif_tiff is not None:
            ck(lib.heif_context_add_exif_metadata(ctx, handle, exif_tiff,
                                                  len(exif_tiff)))
        fd, path = tempfile.mkstemp(suffix=".heif")
        os.close(fd)
        try:
            ck(lib.heif_context_write_to_file(ctx, path.encode()))
            with open(path, "rb") as f:
                return f.read()
        finally:
            os.unlink(path)
    finally:
        lib.heif_context_free(ctx)
