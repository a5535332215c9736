"""Cross-container audio tag extraction — the VorbisComment family
(FLAC metadata block 4, Ogg Vorbis comment packet, Ogg OpusTags),
RIFF LIST/INFO (WAV), and MP4/M4A iTunes-style ``ilst`` atoms (r11) —
companions to the ID3 parse in functions/mp3.py, so `audio_tag_table`
covers every audio container a crawl actually sees: MP3 (ID3v1/v2),
FLAC, Ogg Vorbis/Opus, WAV and M4A/MP4.

All five layouts are public container structures (the same clean-room
posture as sources/mediameta.py, which already walks these containers
for codec metadata): VorbisComment is length-prefixed UTF-8 KEY=value
pairs; RIFF INFO is a LIST chunk of latin-1 sub-chunks; ilst is a
moov/udta/meta subtree of 4CC item atoms wrapping typed data fullboxes.
Tag-sized cost — audio payload bytes are never touched.

No counterpart in the reference (publichealthengland/ndr_import has no
audio handling)."""

from __future__ import annotations

import struct

__all__ = [
    "AudioTagError",
    "build_flac_with_comments",
    "build_m4a_tagged",
    "build_ogg_opus_tagged",
    "build_ogg_vorbis_tagged",
    "build_riff_info",
    "flac_comments",
    "flac_pictures",
    "mp4_covers",
    "mp4_ilst",
    "ogg_comments",
    "parse_vorbis_comments",
    "riff_info",
]


class AudioTagError(ValueError):
    pass


# ------------------------------------------------------- VorbisComment


def parse_vorbis_comments(body: bytes) -> dict:
    """The shared VorbisComment body (vendor string + KEY=value list,
    all little-endian length-prefixed UTF-8) -> {vendor, tags{UPPERKEY:
    value}, n_comments}. Used verbatim by FLAC block 4 and (behind
    their packet prefixes) the Ogg Vorbis/Opus comment headers."""
    if len(body) < 8:
        raise AudioTagError("truncated VorbisComment")
    (vlen,) = struct.unpack_from("<I", body, 0)
    pos = 4 + vlen
    if pos + 4 > len(body):
        raise AudioTagError("truncated VorbisComment vendor")
    vendor = body[4:pos].decode("utf-8", "replace")
    (count,) = struct.unpack_from("<I", body, pos)
    pos += 4
    tags: dict[str, str] = {}
    for _ in range(count):
        if pos + 4 > len(body):
            raise AudioTagError("truncated VorbisComment entry")
        (ln,) = struct.unpack_from("<I", body, pos)
        pos += 4
        if pos + ln > len(body):
            raise AudioTagError("VorbisComment entry overruns")
        entry = body[pos:pos + ln].decode("utf-8", "replace")
        pos += ln
        if "=" in entry:
            k, v = entry.split("=", 1)
            tags.setdefault(k.upper(), v)
    return {"vendor": vendor, "tags": tags, "n_comments": count}


def _build_vorbis_body(tags: dict[str, str], vendor: str) -> bytes:
    out = bytearray()
    v = vendor.encode("utf-8")
    out += struct.pack("<I", len(v)) + v
    out += struct.pack("<I", len(tags))
    for k, val in tags.items():
        e = f"{k}={val}".encode("utf-8")
        out += struct.pack("<I", len(e)) + e
    return bytes(out)


# ----------------------------------------------------------------- FLAC


def flac_comments(data: bytes) -> dict | None:
    """Walk the fLaC metadata blocks; parse block type 4
    (VORBIS_COMMENT) and report block type 6 (PICTURE) presence."""
    data = bytes(data)
    if data[:4] != b"fLaC":
        return None
    pos = 4
    out = None
    has_picture = False
    while pos + 4 <= len(data):
        hdr = data[pos]
        btype, last = hdr & 0x7F, hdr & 0x80
        ln = int.from_bytes(data[pos + 1:pos + 4], "big")
        body = data[pos + 4:pos + 4 + ln]
        if len(body) < ln:
            raise AudioTagError("truncated FLAC metadata block")
        if btype == 4:
            out = parse_vorbis_comments(body)
        elif btype == 6:
            has_picture = True
        pos += 4 + ln
        if last:
            break
    if out is not None:
        out["has_picture"] = has_picture
    elif has_picture:
        out = {"vendor": None, "tags": {}, "n_comments": 0,
               "has_picture": True}
    return out


def flac_pictures(data: bytes) -> list[tuple[str, bytes]]:
    """[(mime, image_bytes)] for every PICTURE block (type 6) in a
    FLAC stream — the album-art payload extraction flac_comments
    deliberately skips (r11: feeds the image scrub/dedup pipeline).
    PICTURE layout (public FLAC format spec): be32 picture type, be32
    MIME length + MIME, be32 description length + description, be32
    width/height/depth/colors, be32 data length + data."""
    data = bytes(data)
    if data[:4] != b"fLaC":
        return []
    out: list[tuple[str, bytes]] = []
    pos = 4
    while pos + 4 <= len(data):
        hdr = data[pos]
        btype, last = hdr & 0x7F, hdr & 0x80
        ln = int.from_bytes(data[pos + 1:pos + 4], "big")
        body = data[pos + 4:pos + 4 + ln]
        if len(body) < ln:
            raise AudioTagError("truncated FLAC metadata block")
        if btype == 6:
            try:
                (mlen,) = struct.unpack_from(">I", body, 4)
                p = 8 + mlen
                mime = body[8:p].decode("latin-1")
                (dlen,) = struct.unpack_from(">I", body, p)
                p += 4 + dlen + 16  # desc + w/h/depth/colors
                (plen,) = struct.unpack_from(">I", body, p)
                p += 4
                if p + plen <= len(body):
                    out.append((mime, body[p:p + plen]))
            except struct.error as exc:
                raise AudioTagError("truncated PICTURE block") from exc
        pos += 4 + ln
        if last:
            break
    return out


def build_flac_with_comments(flac: bytes, tags: dict[str, str],
                             vendor: str = "ndr-spark",
                             picture: bool = False,
                             picture_payload: bytes | None = None,
                             picture_mime: str = "image/jpeg") -> bytes:
    """Insert a VORBIS_COMMENT (and optional PICTURE — fake marker or a
    real caller-supplied payload) block after STREAMINFO in an
    encode_flac stream — no audio byte moves."""
    if flac[:4] != b"fLaC":
        raise AudioTagError("not a FLAC stream")
    hdr = flac[4]
    ln = int.from_bytes(flac[5:8], "big")
    si_end = 8 + ln
    body = _build_vorbis_body(tags, vendor)
    blocks = bytearray()
    blocks.append(4)  # VORBIS_COMMENT, not last
    blocks += len(body).to_bytes(3, "big") + body
    if picture or picture_payload is not None:
        if picture_payload is not None:
            mime = picture_mime.encode("latin-1")
            pic = (struct.pack(">I", 3)  # front cover
                   + struct.pack(">I", len(mime)) + mime
                   + struct.pack(">I", 0)
                   + struct.pack(">IIII", 0, 0, 24, 0)
                   + struct.pack(">I", len(picture_payload))
                   + picture_payload)
        else:
            pic = (struct.pack(">I", 3)  # front cover
                   + struct.pack(">I", 9) + b"image/png"
                   + struct.pack(">I", 0)
                   + struct.pack(">IIII", 1, 1, 24, 0)
                   + struct.pack(">I", 8) + b"\x89PNGfake")
        blocks.append(6)
        blocks += len(pic).to_bytes(3, "big") + pic
    # the inserted run inherits STREAMINFO's last flag (STREAMINFO
    # itself is no longer last): set it on the FINAL inserted block
    if hdr & 0x80:
        last_hdr_pos = 0
        pos = 0
        while pos < len(blocks):
            last_hdr_pos = pos
            pos += 4 + int.from_bytes(blocks[pos + 1:pos + 4], "big")
        blocks[last_hdr_pos] |= 0x80
    return (flac[:4] + bytes([hdr & 0x7F]) + flac[5:si_end]
            + bytes(blocks) + flac[si_end:])


# ------------------------------------------------------------------ Ogg


def _ogg_packets(data: bytes, max_pages: int = 8):
    """Yield packets from the first pages of an Ogg stream (lacing
    reassembly; enough for the header packets, which is all tags
    need)."""
    pos = 0
    pending = b""
    for _ in range(max_pages):
        if data[pos:pos + 4] != b"OggS":
            break
        # A truncated page header (27 bytes) or lacing table must stop
        # the walk, not IndexError out of the operator's per-payload
        # isolation (r10 ADVICE: escape path through audio_tag_table).
        if pos + 27 > len(data):
            break
        nseg = data[pos + 26]
        if pos + 27 + nseg > len(data):
            break
        lacing = data[pos + 27:pos + 27 + nseg]
        body = pos + 27 + nseg
        off = 0
        for seg in lacing:
            pending += data[body + off:body + off + seg]
            off += seg
            if seg < 255:
                yield pending
                pending = b""
        pos = body + off
        if pos >= len(data):
            break


def ogg_comments(data: bytes) -> dict | None:
    """Find the Vorbis ('\\x03vorbis') or Opus ('OpusTags') comment
    header packet and parse its VorbisComment body."""
    data = bytes(data)
    if data[:4] != b"OggS":
        return None
    codec = None
    for pkt in _ogg_packets(data):
        if pkt[:7] == b"\x03vorbis":
            codec, body = "vorbis", pkt[7:]
        elif pkt[:8] == b"OpusTags":
            codec, body = "opus", pkt[8:]
        else:
            continue
        out = parse_vorbis_comments(body)
        out["codec"] = codec
        out["has_picture"] = "METADATA_BLOCK_PICTURE" in out["tags"]
        return out
    return None


def build_ogg_vorbis_tagged(rate: int, channels: int, tags: dict[str, str]) -> bytes:
    from ndr_import_spark.sources.mediameta import build_ogg_page

    ident = (b"\x01vorbis" + struct.pack("<I", 0) + bytes([channels])
             + struct.pack("<I", rate) + struct.pack("<iii", 0, 0, 0)
             + b"\xb8\x01")
    comment = b"\x03vorbis" + _build_vorbis_body(tags, "ndr-spark") + b"\x01"
    return (build_ogg_page(7771, 0, 0, [ident], header_type=2)
            + build_ogg_page(7771, 1, 0, [comment])
            + build_ogg_page(7771, 2, 4096, [bytes(20)], header_type=4))


def build_ogg_opus_tagged(rate: int, channels: int, tags: dict[str, str]) -> bytes:
    from ndr_import_spark.sources.mediameta import build_ogg_page

    head = (b"OpusHead\x01" + bytes([channels]) + struct.pack("<H", 312)
            + struct.pack("<I", rate) + struct.pack("<h", 0) + b"\x00")
    comment = b"OpusTags" + _build_vorbis_body(tags, "ndr-spark")
    return (build_ogg_page(42, 0, 0, [head], header_type=2)
            + build_ogg_page(42, 1, 0, [comment])
            + build_ogg_page(42, 2, 960, [bytes(8)], header_type=4))


# ------------------------------------------------------------ RIFF INFO


_RIFF_INFO_IDS = (b"INAM", b"IART", b"IPRD", b"ICRD", b"IGNR", b"ISFT",
                  b"ICMT")


def riff_info(data: bytes) -> dict | None:
    """The WAV LIST/INFO chunk -> {tags{INAM: ...}, n_comments}."""
    data = bytes(data)
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    pos = 12
    while pos + 8 <= len(data):
        cc = data[pos:pos + 4]
        (sz,) = struct.unpack_from("<I", data, pos + 4)
        if cc == b"LIST" and data[pos + 8:pos + 12] == b"INFO":
            tags: dict[str, str] = {}
            p = pos + 12
            end = pos + 8 + sz
            while p + 8 <= min(end, len(data)):
                sub = data[p:p + 4]
                (sln,) = struct.unpack_from("<I", data, p + 4)
                val = data[p + 8:p + 8 + sln].split(b"\x00")[0]
                tags[sub.decode("latin-1")] = val.decode(
                    "latin-1", "replace")
                p += 8 + sln + (sln & 1)
            return {"tags": tags, "n_comments": len(tags)}
        pos += 8 + sz + (sz & 1)
    return None


def build_riff_info(wav: bytes, tags: dict[str, str]) -> bytes:
    """Append a LIST/INFO chunk to an encode_wav stream and patch the
    RIFF size."""
    if wav[:4] != b"RIFF" or wav[8:12] != b"WAVE":
        raise AudioTagError("not a RIFF/WAVE stream")
    body = bytearray(b"INFO")
    for k, v in tags.items():
        val = v.encode("latin-1", "replace") + b"\x00"
        body += k.encode("latin-1") + struct.pack("<I", len(val)) + val
        if len(val) & 1:
            body += b"\x00"
    chunk = b"LIST" + struct.pack("<I", len(body)) + bytes(body)
    out = bytearray(wav) + chunk
    struct.pack_into("<I", out, 4, len(out) - 8)
    return bytes(out)


# ------------------------------------------------------ MP4/M4A ilst


# iTunes-style metadata item atoms -> canonical tag keys. The '©' glyph
# is 0xA9 in the on-disk 4CCs (QuickTime metadata layout, public).
_ILST_KEYS = {
    b"\xa9nam": "TITLE", b"\xa9ART": "ARTIST", b"\xa9alb": "ALBUM",
    b"\xa9day": "DATE", b"\xa9gen": "GENRE", b"\xa9too": "ENCODER",
    b"\xa9cmt": "COMMENT", b"\xa9wrt": "COMPOSER", b"aART": "ALBUMARTIST",
}


def _find_ilst(data: bytes):
    """Locate the moov/udta/meta/ilst box: (start, end) or None."""
    from ndr_import_spark.sources.mediameta import _walk_boxes

    if len(data) < 12 or data[4:8] != b"ftyp":
        return None

    def find(start, end, fourcc, *, fullbox=False):
        for btype, body, bend in _walk_boxes(data, start, end):
            if btype == fourcc:
                return (body + 4 if fullbox else body), bend
        return None

    moov = find(0, len(data), b"moov")
    if moov is None:
        return None
    udta = find(*moov, b"udta")
    if udta is None:
        return None
    meta = find(*udta, b"meta", fullbox=True)
    if meta is None:
        return None
    return find(*meta, b"ilst")


def mp4_covers(data: bytes) -> list[tuple[str, bytes]]:
    """[(mime, image_bytes)] for every ``covr`` data atom in an
    MP4/M4A ilst — the album-art payload extraction mp4_ilst
    deliberately skips (r11). The data fullbox type indicator names
    the format: 13 = JPEG, 14 = PNG (public well-known types)."""
    from ndr_import_spark.sources.mediameta import _walk_boxes

    data = bytes(data)
    ilst = _find_ilst(data)
    if ilst is None:
        return []
    out: list[tuple[str, bytes]] = []
    for itype, ibody, iend in _walk_boxes(data, *ilst):
        if itype != b"covr":
            continue
        for dtype_cc, dbody, dend in _walk_boxes(data, ibody, iend):
            if dtype_cc != b"data" or dend - dbody < 8:
                continue
            (dtype,) = struct.unpack_from(">I", data, dbody)
            mime = {13: "image/jpeg", 14: "image/png"}.get(
                dtype, "application/octet-stream")
            out.append((mime, data[dbody + 8:dend]))
    return out


def mp4_ilst(data: bytes) -> dict | None:
    """Walk ``moov/udta/meta/ilst`` of an ISO-BMFF (MP4/M4A) file and
    return the iTunes-style metadata items in the same shape as
    :func:`parse_vorbis_comments` results ({tags, n_comments,
    has_picture, codec='mp4'}) so audio_tag_table maps every container
    onto one schema. Returns None when the file is not BMFF or carries
    no ilst.

    Layout (public QuickTime/MP4 metadata structure): ``meta`` is a
    FULLBOX (4 bytes version/flags before children); each ``ilst``
    child is an item atom (``©nam``/``©ART``/…/``covr``) wrapping a
    ``data`` fullbox whose body is 4 bytes type indicator (1 = UTF-8
    text, 13/14 = JPEG/PNG cover art) + 4 bytes locale + value. Cover
    art presence is reported without touching the image bytes
    (tag-sized cost, like APIC / FLAC PICTURE elsewhere)."""
    from ndr_import_spark.sources.mediameta import _walk_boxes

    data = bytes(data)
    ilst = _find_ilst(data)
    if ilst is None:
        return None
    tags: dict[str, str] = {}
    n_items = 0
    has_picture = False
    for itype, ibody, iend in _walk_boxes(data, *ilst):
        n_items += 1
        if itype == b"covr":
            has_picture = True
            continue
        key = _ILST_KEYS.get(itype)
        if key is None:
            continue
        d = next((
            (b, e) for t, b, e in _walk_boxes(data, ibody, iend)
            if t == b"data"), None)
        if d is None:
            continue
        dbody, dend = d
        if dend - dbody < 8:
            raise AudioTagError("truncated ilst data atom")
        (dtype,) = struct.unpack_from(">I", data, dbody)
        val = data[dbody + 8:dend]
        if dtype == 1:  # UTF-8 text
            tags.setdefault(key, val.decode("utf-8", "replace"))
        elif dtype == 21 and val:  # big-endian signed integer
            tags.setdefault(key, str(int.from_bytes(val, "big", signed=True)))
    return {"tags": tags, "n_comments": n_items,
            "has_picture": has_picture, "codec": "mp4"}


def build_m4a_tagged(mp4: bytes, tags: dict[str, str],
                     cover: bytes | None = None) -> bytes:
    """Append a ``udta/meta/hdlr+ilst`` subtree to an existing
    build_mp4 stream's moov box (sizes patched), producing an M4A-style
    tagged file for fixtures and oracles."""
    from ndr_import_spark.sources.mediameta import _walk_boxes

    def _box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    items = b""
    rev = {v: k for k, v in _ILST_KEYS.items()}
    for k, v in tags.items():
        cc = rev.get(k.upper())
        if cc is None:
            raise AudioTagError(f"no ilst atom for tag key {k!r}")
        payload = (struct.pack(">I", 1) + b"\x00" * 4
                   + v.encode("utf-8"))
        items += _box(cc, _box(b"data", payload))
    if cover is not None:
        payload = struct.pack(">I", 13) + b"\x00" * 4 + cover
        items += _box(b"covr", _box(b"data", payload))
    hdlr = _box(b"hdlr", b"\x00" * 8 + b"mdir" + b"appl" + b"\x00" * 9)
    meta = _box(b"meta", b"\x00" * 4 + hdlr + _box(b"ilst", items))
    udta = _box(b"udta", meta)
    for btype, body, bend in _walk_boxes(mp4, 0, len(mp4)):
        if btype == b"moov":
            out = bytearray(mp4[:bend] + udta + mp4[bend:])
            (size,) = struct.unpack_from(">I", out, body - 8)
            struct.pack_into(">I", out, body - 8, size + len(udta))
            return bytes(out)
    raise AudioTagError("no moov box to attach udta to")
