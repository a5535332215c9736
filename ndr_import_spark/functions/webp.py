"""Clean-room WebP **lossless** (VP8L) codec — stdlib-only decode (and a
literal/run encoder for fixtures) of the most common modern crawl image
format.

Written from the PUBLIC "WebP Lossless Bitstream Specification"
(Google, also RFC 9649 annex) — no libwebp available in this container
and none consulted:

* RIFF container: ``RIFF <size> WEBP`` with a ``VP8L`` chunk.
* VP8L stream: signature 0x2F, then an LSB-first bit stream — 14-bit
  width-1 / height-1, alpha hint, 3-bit version (0).
* Up to four TRANSFORMS (predictor, colour, subtract-green,
  colour-indexing), each inverse applied in reverse order after pixel
  decode; predictor/colour parameters are themselves entropy-coded
  subimages.
* Entropy-coded ARGB image: per spec the prefix codes are STREAM-DERIVED
  (DEFLATE-style canonical codes described by code-length codes — the
  reason a clean-room decode is feasible where MP3/Vorbis spec-Huffman
  tables are not): 5 prefix codes per group (green+length+cache, red,
  blue, alpha, distance), optional colour cache (multiplier 0x1e35a7bd
  from the spec), optional meta-prefix image, LZ77 backward references
  with the 120-entry close-neighbourhood 2D distance mapping.

The 2D distance table is GENERATED, not transcribed: the spec's list is
exactly the offsets (x, y), y in 0..7, x in -8..8, that precede the
current pixel in scan order, sorted by (x² + y², |x|, x<0) and truncated
to 120 — `_DIST_MAP` below asserts the generated prefix against the
spec's published first rows.

Codes are packed DEFLATE-style (code bits most-significant-first within
the LSB-first stream). What the oracle gates is round-trip
self-consistency plus pixel parity with the PNG path on identical
images (tests/test_webp.py).

r8 adds the CONTAINER layer for all three flavours: `webp_metadata`
probes plain lossy VP8 (dims from the uncompressed RFC 6386 §9.1 frame
header — keyframe tag, 9D 01 2A start code, 14-bit dims), VP8L, and
VP8X extended files (feature flags, canvas dims, EXIF/XMP/ICCP
presence, ANIM/ANMF frame counts); `scrub_webp_metadata` drops
EXIF/XMP/ICCP chunks with VP8X flags cleared, copying image chunks
byte-identical — so the GPS/PII scrub covers lossy WebP without
decoding it.

r9 closes the lossy PIXEL gap: `decode_webp` / `decode_webp_yuv` route
plain-VP8 chunks through the clean-room keyframe decoder
(functions/vp8.py, RFC 6386). The r8 gating rationale — "no reference
codec to validate a transcription against" — dissolved on discovering
the container DOES ship libwebp.so.7: the normative tables were
transcribed with it as the cross-check and the whole decoder is pinned
byte-exact against libwebp's WebPDecodeYUV (tests/test_vp8.py), the
same encoder-as-oracle pattern test_zstd uses with libzstd. Interframe
(non-keyframe) VP8 remains out of scope and raises.

No counterpart in the reference (publichealthengland/ndr_import has no
image handling).
"""

from __future__ import annotations

import struct


class WebpError(ValueError):
    pass


def is_webp(data: bytes) -> bool:
    return (
        len(data) >= 12 and data[:4] == b"RIFF" and data[8:12] == b"WEBP"
    )


# ------------------------------------------------------------ bit I/O


class _BitReader:
    """LSB-first bit reader (VP8L convention) that works on whole words.

    `buf` holds `cnt` unread bits, the next one lowest; a refill appends
    4 bytes, and `read(n)` takes n bits in one step.  Past the end of the
    data a refill supplies 0-bits; taking any of them is the truncation,
    which `read` raises at once.  The hot loops (`_decode_pixels` and the
    code-length loop of `_read_prefix_code`) decode prefix codes with
    the reader in locals and hand the state back when they end; they
    check for the truncation at their refills, before raising any other
    error, and at the end (`check`)."""

    __slots__ = ("data", "pos", "buf", "cnt", "nbits")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # next byte to load
        self.buf = 0
        self.cnt = 0
        self.nbits = 8 * len(data)

    def check(self) -> None:
        if 8 * self.pos - self.cnt > self.nbits:
            raise WebpError("VP8L stream truncated")

    def read(self, n: int) -> int:
        while self.cnt < n:
            self.buf |= int.from_bytes(
                self.data[self.pos:self.pos + 4], "little") << self.cnt
            self.pos += 4
            self.cnt += 32
        v = self.buf & ((1 << n) - 1)
        self.buf >>= n
        self.cnt -= n
        self.check()
        return v


class _BitWriter:
    def __init__(self) -> None:
        self.bits: list[int] = []

    def write(self, v: int, n: int) -> None:
        for i in range(n):
            self.bits.append((v >> i) & 1)

    def write_code(self, code: int, length: int) -> None:
        """Huffman code bits, MSB first (DEFLATE packing)."""
        for i in range(length - 1, -1, -1):
            self.bits.append((code >> i) & 1)

    def bytes(self) -> bytes:
        out = bytearray((len(self.bits) + 7) // 8)
        for i, b in enumerate(self.bits):
            if b:
                out[i >> 3] |= 1 << (i & 7)
        return bytes(out)


# -------------------------------------------------------- prefix codes

# spec: the order in which code-length-code lengths appear
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13,
              14, 15)


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the canonical scheme (shorter codes
    first; equal lengths by ascending symbol)."""
    pairs = sorted(
        (ln, sym) for sym, ln in enumerate(lengths) if ln > 0
    )
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    prev_len = pairs[0][0] if pairs else 0
    for ln, sym in pairs:
        code <<= ln - prev_len
        codes[sym] = (code, ln)
        code += 1
        prev_len = ln
    return codes


# REV8[b] is the byte b with its bit order reversed
_REV8 = [int(f"{b:08b}"[::-1], 2) for b in range(256)]

_ROOT_BITS = 8  # bits that index the root of a prefix-code table


class _PrefixCode:
    """Table decoder for one canonical prefix code.

    Codes are sent most-significant bit first inside the LSB-first
    stream, so a table indexed by the next stream bits lists every code
    bit-reversed.  The table has two levels (libwebp's layout): the root
    is indexed by the next `bits` = min(longest code, 8) bits and holds
    ``symbol << 4 | length`` for each code of up to `bits` bits, repeated
    over the windows it starts; where longer codes share a root prefix it
    holds ``~i`` for second-level table `subs[i]`, indexed by the bits
    after the root ones and sized by the longest code below that prefix.
    The tables thus grow with the number of codes, not with 2^(longest
    code), so building them costs less than they save even on 32x32
    images.  A one-symbol code has a one-entry root table and takes 0
    bits.

    The hot loops decode inline: ``e = root[buf & mask]``, then
    ``e = entry(e, buf)`` if ``e < 0``; the code takes ``e & 15`` bits
    and its symbol is ``e >> 4``."""

    __slots__ = ("root", "mask", "bits", "subs")

    def __init__(self, lengths: list[int]) -> None:
        nz = [(ln, sym) for sym, ln in enumerate(lengths) if ln > 0]
        if len(nz) == 1:
            self._build([(nz[0][1], 0, 0)])
            return
        codes = _canonical_codes(lengths)
        if not codes:
            raise WebpError("empty prefix code")
        # completeness check: Kraft sum must be exactly 1
        if sum(1 << (15 - ln) for (_c, ln) in codes.values()) != (1 << 15):
            raise WebpError("prefix code lengths not complete")
        self._build([(sym, code, ln) for sym, (code, ln) in codes.items()])

    @classmethod
    def simple(cls, symbols: list[int]) -> "_PrefixCode":
        pc = cls.__new__(cls)
        if len(symbols) == 1:
            pc._build([(symbols[0], 0, 0)])
        else:
            pc._build([(symbols[0], 0, 1), (symbols[1], 1, 1)])
        return pc

    def _build(self, codes: list[tuple[int, int, int]]) -> None:
        """Tables from (symbol, code, length) triples of a complete
        prefix code."""
        bits = min(max(ln for _s, _c, ln in codes), _ROOT_BITS)
        root = [0] * (1 << bits)
        longer: dict[int, list[tuple[int, int, int]]] = {}
        for sym, code, ln in codes:
            rev = (_REV8[code & 0xFF] << 8 | _REV8[code >> 8]) >> (16 - ln)
            if ln <= bits:
                root[rev::1 << ln] = [sym << 4 | ln] * (1 << (bits - ln))
            else:
                longer.setdefault(rev & ((1 << bits) - 1), []).append(
                    (sym, rev >> bits, ln))
        subs = []
        for prefix, tail in longer.items():
            sub_bits = max(ln for _s, _r, ln in tail) - bits
            sub = [0] * (1 << sub_bits)
            for sym, rest, ln in tail:
                step = 1 << (ln - bits)
                sub[rest::step] = [sym << 4 | ln] * ((1 << sub_bits) // step)
            root[prefix] = ~len(subs)
            subs.append((sub, sub_bits))
        self.root = root
        self.mask = (1 << bits) - 1
        self.bits = bits
        self.subs = subs

    def entry(self, e: int, buf: int) -> int:
        """The second-level entry for root entry `e` < 0, where `buf`
        holds the next stream bits."""
        sub, sub_bits = self.subs[~e]
        return sub[(buf >> self.bits) & ((1 << sub_bits) - 1)]


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _PrefixCode:
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        first_8bits = br.read(1)
        sym0 = br.read(8 if first_8bits else 1)
        symbols = [sym0]
        if num_symbols == 2:
            symbols.append(br.read(8))
        if any(s >= alphabet_size for s in symbols):
            raise WebpError("simple-code symbol out of alphabet")
        return _PrefixCode.simple(symbols)
    # code lengths, themselves prefix coded
    num_codes = 4 + br.read(4)
    clc_lengths = [0] * 19
    for i in range(num_codes):
        clc_lengths[_CLC_ORDER[i]] = br.read(3)
    clc = _PrefixCode(clc_lengths)
    if br.read(1):  # use length / max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_len = 8
    i = 0
    # the reader in locals, as in `_decode_pixels`: a code-length code is
    # at most 7 bits (one root-table step) and its repeat count 7 more
    root, mask = clc.root, clc.mask
    data = br.data
    pos, buf, cnt = br.pos, br.buf, br.cnt
    while i < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        if cnt < 14:
            buf |= int.from_bytes(data[pos:pos + 4], "little") << cnt
            pos += 4
            cnt += 32
        e = root[buf & mask]
        buf >>= e & 15
        cnt -= e & 15
        s = e >> 4
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev_len = s
        elif s == 16:
            rep = 3 + (buf & 3)
            buf >>= 2
            cnt -= 2
            for _ in range(rep):
                if i < alphabet_size:
                    lengths[i] = prev_len
                    i += 1
        elif s == 17:
            i += 3 + (buf & 7)
            buf >>= 3
            cnt -= 3
        else:  # 18: long zero run
            i += 11 + (buf & 127)
            buf >>= 7
            cnt -= 7
    br.pos, br.buf, br.cnt = pos, buf, cnt
    br.check()
    if i > alphabet_size:
        raise WebpError("code lengths overflow alphabet")
    return _PrefixCode(lengths)


# --------------------------------------------------- LZ77 distance map

def _gen_dist_map() -> list[tuple[int, int]]:
    """The 120 close-neighbourhood (x, y) offsets, derived by the
    documented ordering (module docstring)."""
    cands = []
    for y in range(0, 9):
        for x in range(-8, 9):
            if y == 0 and x <= 0:
                continue  # not strictly before the current pixel
            cands.append((x, y))
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], abs(p[0]),
                              p[0] < 0, p[1]))
    return cands[:120]


_DIST_MAP = _gen_dist_map()
# pin the generation against the spec's published leading rows
assert _DIST_MAP[:12] == [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2),
], _DIST_MAP[:12]


def _plane_distance(dist_code: int, xsize: int) -> int:
    if dist_code > 120:
        return dist_code - 120
    x, y = _DIST_MAP[dist_code - 1]
    return max(1, y * xsize + x)


# ----------------------------------------------------- entropy decoding

_CACHE_MULT = 0x1E35A7BD  # spec colour-cache hash multiplier


def _read_code_group(br: _BitReader, cache_size: int) -> list[_PrefixCode]:
    return [
        _read_prefix_code(br, 256 + 24 + cache_size),
        _read_prefix_code(br, 256),
        _read_prefix_code(br, 256),
        _read_prefix_code(br, 256),
        _read_prefix_code(br, 40),
    ]


def _decode_image_stream(
    br: _BitReader, w: int, h: int, is_level0: bool
):
    """One VP8L image stream -> (pixels as ARGB ints row-major,
    transforms list, coded xsize) — transforms only read at level 0;
    the coded xsize differs from `w` when a bundled colour-indexing
    transform packed multiple pixels per coded pixel."""
    transforms = []
    xsize = w
    if is_level0:
        seen = set()
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen:
                raise WebpError("duplicate transform")
            seen.add(ttype)
            if ttype == 2:  # subtract-green: no data
                transforms.append((2, None, None))
            elif ttype in (0, 1):  # predictor / colour
                size_bits = br.read(3) + 2
                bw = (xsize + (1 << size_bits) - 1) >> size_bits
                bh = (h + (1 << size_bits) - 1) >> size_bits
                sub, _, _ = _decode_image_stream(br, bw, bh, False)
                transforms.append((ttype, size_bits, sub))
            else:  # 3: colour indexing
                pal_size = br.read(8) + 1
                pal, _, _ = _decode_image_stream(br, pal_size, 1, False)
                # palette is delta-coded per spec
                for i in range(1, pal_size):
                    pal[i] = _add_pixels(pal[i], pal[i - 1])
                transforms.append((3, pal_size, pal))
                if pal_size <= 2:
                    bundle = 3
                elif pal_size <= 4:
                    bundle = 2
                elif pal_size <= 16:
                    bundle = 1
                else:
                    bundle = 0
                if bundle:
                    xsize = (xsize + (1 << bundle) - 1) >> bundle
                    transforms[-1] = (3, pal_size, (pal, bundle, w))

    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits > 11:
        raise WebpError("colour cache too large")
    cache_size = (1 << cache_bits) if cache_bits else 0

    meta = None
    meta_bits = 0
    n_groups = 1
    if is_level0 and br.read(1):  # meta prefix codes
        meta_bits = br.read(3) + 2
        mw = (xsize + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta, _, _ = _decode_image_stream(br, mw, mh, False)
        n_groups = max(((p >> 8) & 0xFFFF) for p in meta) + 1

    groups = [_read_code_group(br, cache_size) for _ in range(n_groups)]
    out = _decode_pixels(br, xsize, h, groups, meta, meta_bits, cache_bits)
    return out, transforms, xsize


def _decode_pixels(br, xsize, h, groups, meta, meta_bits, cache_bits):
    """The entropy-coded pixels of one image stream, as ARGB ints.

    The reader's state lives in locals here: `buf` holds `cnt` unread
    bits, topped up to at least 60 before each pixel — enough for the
    four codes of a literal or for a backward reference (length code and
    extra bits, distance code and extra bits) — so the body never
    refills.  Each code is decoded by its root table, and by
    `_PrefixCode.entry` only for codes longer than the root."""
    n = xsize * h
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size
    cache_shift = 32 - cache_bits
    meta_w = (xsize + (1 << meta_bits) - 1) >> meta_bits
    # per group: (root table, root mask, code) for each of the 5 codes
    tables = [
        tuple(x for pc in g for x in (pc.root, pc.mask, pc))
        for g in groups
    ]
    data = br.data
    nbits = br.nbits
    pos, buf, cnt = br.pos, br.buf, br.cnt
    out: list[int] = []
    append = out.append
    (g_root, g_mask, g_pc, r_root, r_mask, r_pc, b_root, b_mask, b_pc,
     a_root, a_mask, a_pc, d_root, d_mask, d_pc) = tables[0]
    npx = 0
    while npx < n:
        if meta is not None:
            y, x = divmod(npx, xsize)
            (g_root, g_mask, g_pc, r_root, r_mask, r_pc, b_root, b_mask,
             b_pc, a_root, a_mask, a_pc, d_root, d_mask, d_pc) = tables[
                (meta[(y >> meta_bits) * meta_w + (x >> meta_bits)] >> 8)
                & 0xFFFF]
        if cnt < 60:
            # past the end of the data the refill supplies 0-bits: stop
            # once one of them was taken
            if 8 * pos - cnt > nbits:
                raise WebpError("VP8L stream truncated")
            buf |= int.from_bytes(data[pos:pos + 8], "little") << cnt
            pos += 8
            cnt += 64
        e = g_root[buf & g_mask]
        if e < 0:
            e = g_pc.entry(e, buf)
        buf >>= e & 15
        cnt -= e & 15
        s = e >> 4
        if s < 256:  # literal
            e = r_root[buf & r_mask]
            if e < 0:
                e = r_pc.entry(e, buf)
            buf >>= e & 15
            cnt -= e & 15
            px = e >> 4 << 16 | s << 8
            e = b_root[buf & b_mask]
            if e < 0:
                e = b_pc.entry(e, buf)
            buf >>= e & 15
            cnt -= e & 15
            px |= e >> 4
            e = a_root[buf & a_mask]
            if e < 0:
                e = a_pc.entry(e, buf)
            buf >>= e & 15
            cnt -= e & 15
            px |= e >> 4 << 24
            append(px)
            npx += 1
            if cache_size:
                cache[(_CACHE_MULT * px & 0xFFFFFFFF) >> cache_shift] = px
            continue
        if s < 256 + 24:  # LZ77 backward reference (spec 5.2.2)
            code = s - 256
            if code < 4:
                length = code + 1
            else:
                extra = (code - 2) >> 1
                length = ((2 + (code & 1)) << extra) + 1 + (
                    buf & ((1 << extra) - 1))
                buf >>= extra
                cnt -= extra
            e = d_root[buf & d_mask]
            if e < 0:
                e = d_pc.entry(e, buf)
            buf >>= e & 15
            cnt -= e & 15
            code = e >> 4
            if code < 4:
                dist_code = code + 1
            else:
                extra = (code - 2) >> 1
                dist_code = ((2 + (code & 1)) << extra) + 1 + (
                    buf & ((1 << extra) - 1))
                buf >>= extra
                cnt -= extra
            dist = _plane_distance(dist_code, xsize)
            if dist > npx:
                _fail(br, pos, cnt, "LZ77 distance before image start")
            if npx + length > n:
                _fail(br, pos, cnt, "LZ77 copy past image end")
            for _ in range(length):
                px = out[npx - dist]
                append(px)
                npx += 1
                if cache_size:
                    cache[(_CACHE_MULT * px & 0xFFFFFFFF) >> cache_shift] = px
        else:  # colour cache
            idx = s - 256 - 24
            if idx >= cache_size:
                _fail(br, pos, cnt, "cache index out of range")
            px = cache[idx]
            append(px)
            npx += 1
            cache[(_CACHE_MULT * px & 0xFFFFFFFF) >> cache_shift] = px
    br.pos, br.buf, br.cnt = pos, buf, cnt
    br.check()
    return out


def _fail(br, pos, cnt, msg):
    """Raise `msg` from the pixel loop — or the truncation, when the
    loop already read past the end of the data."""
    if 8 * pos - cnt > br.nbits:
        msg = "VP8L stream truncated"
    raise WebpError(msg)


# ------------------------------------------------- inverse transforms

def _add_pixels(a: int, b: int) -> int:
    """per-channel mod-256 add."""
    return (
        (((a >> 24) + (b >> 24)) & 0xFF) << 24
        | (((a >> 16 & 0xFF) + (b >> 16 & 0xFF)) & 0xFF) << 16
        | (((a >> 8 & 0xFF) + (b >> 8 & 0xFF)) & 0xFF) << 8
        | (((a & 0xFF) + (b & 0xFF)) & 0xFF)
    )


def _avg2(a: int, b: int) -> int:
    return (
        (((a >> 24 & 0xFF) + (b >> 24 & 0xFF)) >> 1) << 24
        | (((a >> 16 & 0xFF) + (b >> 16 & 0xFF)) >> 1) << 16
        | (((a >> 8 & 0xFF) + (b >> 8 & 0xFF)) >> 1) << 8
        | (((a & 0xFF) + (b & 0xFF)) >> 1)
    )


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _select(l: int, t: int, tl: int) -> int:  # noqa: E741
    p_alpha = (l >> 24 & 0xFF) + (t >> 24 & 0xFF) - (tl >> 24 & 0xFF)
    p_red = (l >> 16 & 0xFF) + (t >> 16 & 0xFF) - (tl >> 16 & 0xFF)
    p_green = (l >> 8 & 0xFF) + (t >> 8 & 0xFF) - (tl >> 8 & 0xFF)
    p_blue = (l & 0xFF) + (t & 0xFF) - (tl & 0xFF)
    pl = (
        abs(p_alpha - (l >> 24 & 0xFF)) + abs(p_red - (l >> 16 & 0xFF))
        + abs(p_green - (l >> 8 & 0xFF)) + abs(p_blue - (l & 0xFF))
    )
    pt = (
        abs(p_alpha - (t >> 24 & 0xFF)) + abs(p_red - (t >> 16 & 0xFF))
        + abs(p_green - (t >> 8 & 0xFF)) + abs(p_blue - (t & 0xFF))
    )
    return l if pl < pt else t


def _clamp_add_sub_full(l: int, t: int, tl: int) -> int:  # noqa: E741
    return (
        _clamp((l >> 24 & 0xFF) + (t >> 24 & 0xFF) - (tl >> 24 & 0xFF)) << 24
        | _clamp((l >> 16 & 0xFF) + (t >> 16 & 0xFF) - (tl >> 16 & 0xFF)) << 16
        | _clamp((l >> 8 & 0xFF) + (t >> 8 & 0xFF) - (tl >> 8 & 0xFF)) << 8
        | _clamp((l & 0xFF) + (t & 0xFF) - (tl & 0xFF))
    )


def _clamp_add_sub_half(l: int, t: int, tl: int) -> int:  # noqa: E741
    ave = _avg2(l, t)

    def ch(shift):
        a = ave >> shift & 0xFF
        c = tl >> shift & 0xFF
        d = a - c
        # C-style truncation toward zero (the spec's (a-c)/2), NOT
        # Python floor division — they differ on negative odd deltas
        half = d // 2 if d >= 0 else -((-d) // 2)
        return _clamp(a + half)

    return ch(24) << 24 | ch(16) << 16 | ch(8) << 8 | ch(0)


def _predict(mode: int, l: int, t: int, tl: int, tr: int) -> int:  # noqa: E741
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(l, tr), t)
    if mode == 6:
        return _avg2(l, tl)
    if mode == 7:
        return _avg2(l, t)
    if mode == 8:
        return _avg2(tl, t)
    if mode == 9:
        return _avg2(t, tr)
    if mode == 10:
        return _avg2(_avg2(l, tl), _avg2(t, tr))
    if mode == 11:
        return _select(l, t, tl)
    if mode == 12:
        return _clamp_add_sub_full(l, t, tl)
    if mode == 13:
        return _clamp_add_sub_half(l, t, tl)
    raise WebpError(f"predictor mode {mode} out of range")


def _inv_predictor(px: list[int], w: int, h: int, size_bits, sub) -> None:
    bw = (w + (1 << size_bits) - 1) >> size_bits
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = px[i - 1]  # mode 1 (left) on the top row
            elif x == 0:
                pred = px[i - w]  # mode 2 (top) on the left column
            else:
                mode = (sub[(y >> size_bits) * bw + (x >> size_bits)]
                        >> 8) & 0xFF
                # TR addresses the 1D scan-order buffer: for the
                # rightmost column i-w+1 wraps to the CURRENT row's
                # first (already decoded) pixel — the spec's contiguous
                # addressing, not a border special case
                tr = px[i - w + 1]
                pred = _predict(mode, px[i - 1], px[i - w],
                                px[i - w - 1], tr)
            px[i] = _add_pixels(px[i], pred)


def _ct_delta(t: int, c: int) -> int:
    """ColorTransformDelta: signed-int8 product >> 5 (spec §4.2)."""
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _inv_color_transform(px, w, h, size_bits, sub) -> None:
    bw = (w + (1 << size_bits) - 1) >> size_bits
    for y in range(h):
        for x in range(w):
            i = y * w + x
            cte = sub[(y >> size_bits) * bw + (x >> size_bits)]
            g2r = cte & 0xFF
            g2b = (cte >> 8) & 0xFF
            r2b = (cte >> 16) & 0xFF
            a = px[i] >> 24 & 0xFF
            r = px[i] >> 16 & 0xFF
            g = px[i] >> 8 & 0xFF
            b = px[i] & 0xFF
            r = (r + _ct_delta(g2r, g)) & 0xFF
            b = (b + _ct_delta(g2b, g) + _ct_delta(r2b, r)) & 0xFF
            px[i] = a << 24 | r << 16 | g << 8 | b


def _inv_subtract_green(px: list[int]) -> None:
    for i, p in enumerate(px):
        g = p >> 8 & 0xFF
        r = ((p >> 16 & 0xFF) + g) & 0xFF
        b = ((p & 0xFF) + g) & 0xFF
        px[i] = (p & 0xFF000000) | r << 16 | (g << 8) | b


def _inv_color_index(px, w, h, pal_info):
    if isinstance(pal_info, tuple):
        pal, bundle, true_w = pal_info
        per = 1 << bundle
        bits = 8 >> bundle
        mask = (1 << bits) - 1
        packed_w = (true_w + per - 1) >> bundle
        out = []
        for y in range(h):
            for x in range(true_w):
                packed = px[y * packed_w + (x >> bundle)]
                idx = ((packed >> 8) & 0xFF) >> (bits * (x % per)) & mask
                if idx >= len(pal):
                    raise WebpError("palette index out of range")
                out.append(pal[idx])
        return out, true_w
    pal = pal_info
    out = []
    for p in px:
        idx = (p >> 8) & 0xFF
        if idx >= len(pal):
            raise WebpError("palette index out of range")
        out.append(pal[idx])
    return out, w


# ------------------------------------------------------------- decode

def decode_vp8l(stream: bytes) -> tuple[int, int, int, bytes]:
    """VP8L stream -> (width, height, 4, RGBA bytes row-major)."""
    if not stream or stream[0] != 0x2F:
        raise WebpError("bad VP8L signature")
    br = _BitReader(stream[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise WebpError("unsupported VP8L version")
    # inversion starts at the CODED width (reduced when a bundled
    # colour-indexing transform follows other transforms in the stream):
    # each inverse operates on the width current at ITS point in the
    # reversed chain, and colour-index expansion restores the full width
    px, transforms, cur_w = _decode_image_stream(br, w, h, True)
    for ttype, p1, p2 in reversed(transforms):
        if ttype == 3:
            px, cur_w = _inv_color_index(px, cur_w, h, p2)
        elif ttype == 2:
            _inv_subtract_green(px)
        elif ttype == 0:
            _inv_predictor(px, cur_w, h, p1, p2)
        else:
            _inv_color_transform(px, cur_w, h, p1, p2)
    if cur_w != w:
        raise WebpError("width mismatch after transforms")
    # ARGB ints -> little-endian B, G, R, A bytes -> R, G, B, A
    bgra = struct.pack(f"<{len(px)}I", *px)
    out = bytearray(len(bgra))
    out[0::4] = bgra[2::4]
    out[1::4] = bgra[1::4]
    out[2::4] = bgra[0::4]
    out[3::4] = bgra[3::4]
    return w, h, 4, bytes(out)


def decode_webp(data: bytes) -> tuple[int, int, int, bytes]:
    """WebP bytes -> (width, height, channels, pixel bytes). Lossless
    (VP8L) decodes to RGBA (channels=4). Lossy VP8 keyframes (r9,
    functions/vp8.py — clean-room RFC 6386) decode to the LUMA plane as
    grayscale (channels=1): YUV->RGB conversion is not part of RFC 6386
    (it's a renderer choice with upsampling variants), so the honest
    pixel contract for lossy is the plane the codec actually defines."""
    data = bytes(data)
    if not is_webp(data):
        raise WebpError("not a RIFF/WEBP file")
    pos = 12
    while pos + 8 <= len(data):
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise WebpError("truncated WebP chunk")
        if fourcc == b"VP8L":
            return decode_vp8l(body)
        if fourcc == b"VP8 ":
            from ndr_import_spark.functions.vp8 import decode_vp8_keyframe

            w, h, y, _u, _v = decode_vp8_keyframe(body)
            return w, h, 1, y.tobytes()
        pos += 8 + size + (size & 1)
    raise WebpError("no VP8L chunk found")


def decode_webp_yuv(data: bytes):
    """Lossy-WebP pixel API: (width, height, Y, U, V) numpy planes from
    the VP8 keyframe chunk (clean-room functions/vp8.py). The plane
    contract matches libwebp's WebPDecodeYUV, which the test suite pins
    byte-exactly. Raises WebpError when no VP8 chunk exists and
    NotImplementedError for interframes."""
    data = bytes(data)
    if not is_webp(data):
        raise WebpError("not a RIFF/WEBP file")
    for fourcc, pos, size in _walk_riff_chunks(data):
        if fourcc == b"VP8 ":
            from ndr_import_spark.functions.vp8 import decode_vp8_keyframe

            return decode_vp8_keyframe(data[pos + 8:pos + 8 + size])
    raise WebpError("no VP8 chunk found")


# ------------------------------------------- container metadata + scrub

def _walk_riff_chunks(data: bytes):
    """Yield (fourcc, body_start, size) for every chunk after the RIFF
    header; chunk payloads are padded to even length per RIFF."""
    pos = 12
    n = len(data)
    while pos + 8 <= n:
        fourcc = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        if pos + 8 + size > n:
            raise WebpError("truncated WebP chunk")
        yield fourcc, pos, size
        pos += 8 + size + (size & 1)


def webp_metadata(data: bytes) -> dict:
    """Container-level probe for ALL three WebP flavours — including
    lossy VP8, whose DIMENSIONS live in the uncompressed 10-byte frame
    header (RFC 6386 §9.1: 3-byte frame tag with keyframe/version/
    show_frame/first-partition-size, 3-byte start code 9D 01 2A, then
    14-bit width/height with 2-bit upscale codes) and are therefore
    parseable without the DCT/bool-coder stack that full decode needs.

    Returns: variant ('vp8'|'vp8l'|'vp8x'), codec of the image payload,
    width/height (canvas dims for VP8X), has_alpha, has_animation,
    n_frames (ANMF count, 1 for stills), has_exif/has_xmp/has_icc +
    exif_size, and the VP8-specific keyframe/show_frame/part1_size
    fields. The EXIF chunk body is raw TIFF (WebP container spec), so
    callers can feed it to exif.parse_exif_tiff for GPS."""
    data = bytes(data)
    if not is_webp(data):
        raise WebpError("not a RIFF/WEBP file")
    out = {
        "variant": None, "codec": None, "width": None, "height": None,
        "has_alpha": False, "has_animation": False, "n_frames": 0,
        "has_exif": False, "has_xmp": False, "has_icc": False,
        "exif_size": None, "keyframe": None, "show_frame": None,
        "part1_size": None,
    }
    for fourcc, pos, size in _walk_riff_chunks(data):
        body = data[pos + 8:pos + 8 + size]
        if fourcc == b"VP8X" and out["variant"] is None:
            out["variant"] = "vp8x"
            flags = body[0]
            out["has_icc"] = bool(flags & 0x20)
            out["has_alpha"] = bool(flags & 0x10)
            out["has_exif"] = bool(flags & 0x08)
            out["has_xmp"] = bool(flags & 0x04)
            out["has_animation"] = bool(flags & 0x02)
            out["width"] = int.from_bytes(body[4:7], "little") + 1
            out["height"] = int.from_bytes(body[7:10], "little") + 1
        elif fourcc == b"VP8 ":
            tag = int.from_bytes(body[0:3], "little")
            out["codec"] = "vp8"
            out["keyframe"] = (tag & 1) == 0
            out["show_frame"] = bool((tag >> 4) & 1)
            out["part1_size"] = tag >> 5
            if out["keyframe"]:
                if body[3:6] != b"\x9d\x01\x2a":
                    raise WebpError("bad VP8 keyframe start code")
                wraw = struct.unpack_from("<H", body, 6)[0]
                hraw = struct.unpack_from("<H", body, 8)[0]
                if out["variant"] is None:
                    out["width"] = wraw & 0x3FFF
                    out["height"] = hraw & 0x3FFF
            if out["variant"] is None:
                out["variant"] = "vp8"
            if not out["n_frames"]:
                out["n_frames"] = 1
        elif fourcc == b"VP8L":
            out["codec"] = "vp8l"
            if body[0] != 0x2F:
                raise WebpError("bad VP8L signature")
            bits = int.from_bytes(body[1:5], "little")
            if out["variant"] is None:
                out["variant"] = "vp8l"
                out["width"] = (bits & 0x3FFF) + 1
                out["height"] = ((bits >> 14) & 0x3FFF) + 1
                out["has_alpha"] = bool((bits >> 28) & 1)
            if not out["n_frames"]:
                out["n_frames"] = 1
        elif fourcc == b"ANMF":
            out["n_frames"] += 1
            if out["codec"] is None and size > 16:
                sub = body[16:20]
                out["codec"] = {b"VP8 ": "vp8", b"VP8L": "vp8l"}.get(sub)
        elif fourcc == b"EXIF":
            out["has_exif"] = True
            out["exif_size"] = size
        elif fourcc == b"XMP ":
            out["has_xmp"] = True
        elif fourcc == b"ICCP":
            out["has_icc"] = True
    if out["variant"] is None:
        raise WebpError("no VP8/VP8L/VP8X chunk found")
    return out


def scrub_webp_metadata(data: bytes) -> bytes:
    """Drop EXIF, XMP and ICCP chunks from the RIFF container and clear
    the matching VP8X feature flags — the WebP twin of
    exif.strip_jpeg_metadata (GPS rides in the EXIF chunk's TIFF body).
    Image payload chunks (VP8/VP8L/ALPH/ANIM/ANMF) are copied
    byte-identical; the RIFF size is rewritten. Non-WebP input raises —
    callers route by magic like the JPEG scrub does."""
    data = bytes(data)
    if not is_webp(data):
        raise WebpError("not a RIFF/WEBP file")
    kept = []
    for fourcc, pos, size in _walk_riff_chunks(data):
        if fourcc in (b"EXIF", b"XMP ", b"ICCP"):
            continue
        chunk = bytearray(data[pos:pos + 8 + size + (size & 1)])
        if fourcc == b"VP8X":
            chunk[8] &= ~(0x20 | 0x08 | 0x04)  # ICC, EXIF, XMP flags
        kept.append(bytes(chunk))
    payload = b"WEBP" + b"".join(kept)
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


# ----------------------------------------------- container fixture builders

def build_vp8_keyframe_stub(width: int, height: int, fill: bytes = b"") -> bytes:
    """A VP8 chunk body whose UNCOMPRESSED header (RFC 6386 §9.1) is
    valid — keyframe tag, version 0, show_frame, first-partition size,
    9D 01 2A start code, 14-bit dims — followed by `fill` as an opaque
    compressed partition. Probe-path fixtures only: the partition is
    never decoded (full VP8 decode stays honestly gated)."""
    if not (0 < width < 1 << 14 and 0 < height < 1 << 14):
        raise WebpError("VP8 dims must fit 14 bits")
    part1 = len(fill)
    tag = (part1 << 5) | (1 << 4) | (0 << 1) | 0
    return (
        tag.to_bytes(3, "little")
        + b"\x9d\x01\x2a"
        + struct.pack("<HH", width, height)
        + fill
    )


def build_webp_container(chunks: list[tuple[bytes, bytes]]) -> bytes:
    """Assemble `RIFF....WEBP` from (fourcc, body) pairs with RIFF even
    padding — the VP8X/EXIF/XMP fixture path for the metadata probe and
    scrub tests."""
    out = bytearray()
    for fourcc, body in chunks:
        if len(fourcc) != 4:
            raise WebpError("fourcc must be 4 bytes")
        out += fourcc + struct.pack("<I", len(body)) + body
        if len(body) & 1:
            out += b"\x00"
    payload = b"WEBP" + bytes(out)
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def build_vp8x_header(
    width: int,
    height: int,
    alpha: bool = False,
    exif: bool = False,
    xmp: bool = False,
    animation: bool = False,
) -> bytes:
    """The 10-byte VP8X chunk body (flags + 24-bit canvas dims)."""
    flags = (
        (0x10 if alpha else 0)
        | (0x08 if exif else 0) | (0x04 if xmp else 0)
        | (0x02 if animation else 0)
    )
    return (
        bytes([flags, 0, 0, 0])
        + (width - 1).to_bytes(3, "little")
        + (height - 1).to_bytes(3, "little")
    )


# ------------------------------------------------------------- encoder

def _huff_lengths(freqs: dict[int, int], max_len: int = 15) -> dict[int, int]:
    """Code lengths via plain package-free Huffman (heap), depth-limited
    by construction for our tiny fixture alphabets."""
    import heapq

    syms = [s for s, f in freqs.items() if f > 0]
    if not syms:
        raise WebpError("empty alphabet")
    if len(syms) == 1:
        return {syms[0]: 1}
    heap = [(f, sym, None, None) for sym, f in freqs.items() if f > 0]
    heap = [(f, i, node) for i, (f, *node) in enumerate(sorted(heap))]
    counter = len(heap)
    heapq.heapify(heap)
    while len(heap) > 1:
        f1, _, n1 = heapq.heappop(heap)
        f2, _, n2 = heapq.heappop(heap)
        heapq.heappush(heap, (f1 + f2, counter, (None, n1, n2)))
        counter += 1
    lengths: dict[int, int] = {}

    def walk(node, depth):
        sym, l, r = node  # noqa: E741
        if sym is not None:
            lengths[sym] = max(1, depth)
            return
        walk(l, depth + 1)
        walk(r, depth + 1)

    walk(heap[0][2], 0)
    if max(lengths.values()) > max_len:
        raise WebpError("fixture alphabet too deep")  # not reachable here
    return lengths


def _write_prefix_code(
    bw: _BitWriter, lengths_by_sym: dict[int, int], alphabet_size: int
) -> dict[int, tuple[int, int]]:
    """Emit a prefix-code description; returns symbol -> (code, len)."""
    syms = sorted(lengths_by_sym)
    if len(syms) <= 2 and all(s < 256 for s in syms):
        bw.write(1, 1)  # simple
        bw.write(len(syms) - 1, 1)
        bw.write(1, 1)  # first symbol in 8 bits
        bw.write(syms[0], 8)
        if len(syms) == 2:
            bw.write(syms[1], 8)
        return {
            s: (i, 1) if len(syms) == 2 else (0, 0)
            for i, s in enumerate(syms)
        }
    bw.write(0, 1)  # normal code
    lengths = [lengths_by_sym.get(s, 0) for s in range(alphabet_size)]
    # code-length alphabet: plain 0-15 symbols, no repeats
    clc_freq: dict[int, int] = {}
    for ln in lengths:
        clc_freq[ln] = clc_freq.get(ln, 0) + 1
    clc_lengths = _huff_lengths(clc_freq, 7)
    # num_code_lengths must cover every used clc symbol in _CLC_ORDER
    need = max(
        i for i, s in enumerate(_CLC_ORDER) if s in clc_lengths
    ) + 1
    need = max(need, 4)
    bw.write(need - 4, 4)
    for i in range(need):
        bw.write(clc_lengths.get(_CLC_ORDER[i], 0), 3)
    bw.write(0, 1)  # no max_symbol shortcut
    clc_codes = _canonical_codes(
        [clc_lengths.get(s, 0) for s in range(19)]
    )
    for ln in lengths:
        c, cl = clc_codes[ln]
        bw.write_code(c, cl)
    return _canonical_codes(lengths)


def _write_literal_image(
    bw: _BitWriter, argb: list[int], level0: bool
) -> None:
    """Emit one entropy-coded image stream holding `argb` as pure
    literals (no cache, no LZ77, no meta) — shared by encode_webp and
    the hand-crafted transform test streams (the sub-streams transform
    parameters travel in)."""
    bw.write(0, 1)  # no colour cache
    if level0:
        bw.write(0, 1)  # no meta prefix codes

    def freq(vals):
        f: dict[int, int] = {}
        for v in vals:
            f[v] = f.get(v, 0) + 1
        return f

    greens = [p >> 8 & 0xFF for p in argb]
    reds = [p >> 16 & 0xFF for p in argb]
    blues = [p & 0xFF for p in argb]
    alphas = [p >> 24 & 0xFF for p in argb]
    tables = []
    for vals, asize in (
        (greens, 256 + 24), (reds, 256), (blues, 256), (alphas, 256),
    ):
        tables.append(
            _write_prefix_code(bw, _huff_lengths(freq(vals)), asize)
        )
    # distance code: unused but must be present — single-symbol simple
    bw.write(1, 1)
    bw.write(0, 1)  # one symbol
    bw.write(1, 1)  # 8-bit symbol
    bw.write(0, 8)  # symbol 0
    gt, rt, bt, at = tables
    for i in range(len(argb)):
        for table, val in (
            (gt, greens[i]), (rt, reds[i]), (bt, blues[i]),
            (at, alphas[i]),
        ):
            c, ln = table[val]
            bw.write_code(c, ln)


def _wrap_vp8l(bw: _BitWriter) -> bytes:
    stream = b"\x2f" + bw.bytes()
    riff_size = 4 + 8 + len(stream) + (len(stream) & 1)
    out = (
        b"RIFF" + struct.pack("<I", riff_size) + b"WEBP"
        + b"VP8L" + struct.pack("<I", len(stream)) + stream
    )
    if len(stream) & 1:
        out += b"\x00"
    return out


def encode_webp(width: int, height: int, rgb: bytes) -> bytes:
    """(width, height, RGB bytes) -> lossless WebP (VP8L, literals only,
    no transforms, no cache) — the fixture encoder; decode_webp is the
    general path."""
    if len(rgb) != width * height * 3:
        raise WebpError("rgb length must be width*height*3")
    bw = _BitWriter()
    bw.write(width - 1, 14)
    bw.write(height - 1, 14)
    bw.write(0, 1)  # no alpha
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no transforms (the transform-present flag)
    argb = [
        0xFF000000
        | rgb[3 * i] << 16
        | rgb[3 * i + 1] << 8
        | rgb[3 * i + 2]
        for i in range(width * height)
    ]
    _write_literal_image(bw, argb, level0=True)
    return _wrap_vp8l(bw)


def encode_vp8l_chunk(width: int, height: int, rgba: bytes) -> bytes:
    """(width, height, RGBA bytes) -> a raw VP8L stream (chunk body)
    carrying real alpha literals — the fixture encoder for animation
    frames (build_anmf_chunk embeds it directly)."""
    if len(rgba) != width * height * 4:
        raise WebpError("rgba length must be width*height*4")
    bw = _BitWriter()
    bw.write(width - 1, 14)
    bw.write(height - 1, 14)
    has_alpha = any(rgba[i] != 255 for i in range(3, len(rgba), 4))
    bw.write(1 if has_alpha else 0, 1)
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no transforms
    argb = [
        rgba[4 * i + 3] << 24
        | rgba[4 * i] << 16
        | rgba[4 * i + 1] << 8
        | rgba[4 * i + 2]
        for i in range(width * height)
    ]
    _write_literal_image(bw, argb, level0=True)
    return b"\x2f" + bw.bytes()


# ------------------------------------------------- canvas compositing (r10)


def composite_webp_frames(data: bytes):
    """Yield per-frame COMPOSITED canvases for an animated (or still)
    WebP — what a viewer sees — honoring the VP8X canvas size and each
    ANMF frame's x/y offset, dispose and blend flags. Yields dicts
    {frame_ix, duration_ms, canvas} with canvas = RGBA bytes (row-major,
    canvas_w*canvas_h*4); canvas dims come from webp_metadata.

    Semantics (container spec): the canvas starts transparent black;
    blend method 1 overwrites the frame rectangle, method 0
    alpha-composites with the spec's non-premultiplied formula — here in
    exact integer form: A_out = (255*Sa + Da*(255-Sa)) // 255 and
    C_out = (Sc*Sa*255 + Dc*Da*(255-Sa)) // (255*Sa + Da*(255-Sa))
    (0 when fully transparent), which reduces to the classic
    (Sc*Sa + Dc*(255-Sa)) // 255 lerp over an opaque destination.
    Dispose method 1 clears the frame rectangle to transparent black
    AFTER the frame is shown.

    Frame pixels: VP8L frames decode to exact RGBA (decode_vp8l, gated
    by the repo's VP8L suite); lossy VP8 frames use the clean-room
    keyframe decoder's luma as gray RGB (the repo's documented lossy
    contract) with the frame's ALPH chunk decoded for alpha. The
    container ships no libwebpdemux, so AnimDecoder parity is an
    auto-activating env-gate in tests; the blend/dispose arithmetic is
    pinned by analytic cases instead (opaque src == src, alpha-0 src ==
    dst, the closed-form lerp over opaque backgrounds)."""
    import numpy as np

    data = bytes(data)
    meta = webp_metadata(data)
    cw, ch_ = meta["width"], meta["height"]
    canvas = np.zeros((ch_, cw, 4), dtype=np.uint8)
    for fr in iter_webp_frames(data):
        fw, fh = fr["width"], fr["height"]
        if fr["codec"] == "vp8l":
            _w, _h, _c, px = decode_vp8l(fr["payload"])
            # attacker-controlled embedded streams can declare dims that
            # disagree with the ANMF header — reshape would ValueError
            # past the operator's WebpError catch (r10 ADVICE)
            if (_w, _h) != (fw, fh):
                raise WebpError(
                    f"VP8L stream dims {_w}x{_h} disagree with ANMF "
                    f"frame rectangle {fw}x{fh}")
            frame = np.frombuffer(px, dtype=np.uint8).reshape(fh, fw, 4)
        else:
            from ndr_import_spark.functions.vp8 import decode_vp8_keyframe

            _w, _h, y, _u, _v = decode_vp8_keyframe(fr["payload"])
            if _w < fw or _h < fh:
                # lossy VP8 pads to macroblock multiples, so decoded dims
                # may legitimately EXCEED the frame rect (y[:fh,:fw]
                # crops); smaller means the stream lied about its size
                raise WebpError(
                    f"VP8 stream dims {_w}x{_h} smaller than ANMF "
                    f"frame rectangle {fw}x{fh}")
            frame = np.empty((fh, fw, 4), dtype=np.uint8)
            frame[:, :, 0] = frame[:, :, 1] = frame[:, :, 2] = \
                y[:fh, :fw]
            if fr.get("alph"):
                alpha = decode_alph(fr["alph"], fw, fh)
                frame[:, :, 3] = np.frombuffer(
                    alpha, dtype=np.uint8).reshape(fh, fw)
            else:
                frame[:, :, 3] = 255
        x, y0 = fr["x"], fr["y"]
        if x + fw > cw or y0 + fh > ch_:
            raise WebpError("ANMF frame rectangle exceeds the canvas")
        rect = canvas[y0:y0 + fh, x:x + fw]
        if fr["blend"]:
            rect[:] = frame
        else:
            sa = frame[:, :, 3:4].astype(np.int64)
            da = rect[:, :, 3:4].astype(np.int64)
            src = frame[:, :, :3].astype(np.int64)
            dst = rect[:, :, :3].astype(np.int64)
            denom = 255 * sa + da * (255 - sa)
            a_out = denom // 255
            num = src * sa * 255 + dst * da * (255 - sa)
            rgb_out = np.where(denom > 0, num // np.maximum(denom, 1), 0)
            rect[:, :, :3] = rgb_out.astype(np.uint8)
            rect[:, :, 3:4] = a_out.astype(np.uint8)
        yield {
            "frame_ix": fr["frame_ix"],
            "duration_ms": fr["duration_ms"],
            "canvas": canvas.tobytes(),
        }
        if fr["dispose"]:
            rect[:] = 0


# ----------------------------------------- system-libwebp fixture helpers
# The clean-room code above DECODES; round-trip gates need the reference
# ENCODER (and reference decoder) on the fixture side. Same pattern as
# functions/zstd.py's libzstd_compress_dict: lazy ctypes, error-checked,
# a clear error when the shared library is absent (no clean-room lossy
# VP8 encoder exists to fall back to).

_LIBWEBP = None  # module-global: loaded lib or False after a failed load


def _load_libwebp():
    global _LIBWEBP
    if _LIBWEBP is None:
        import ctypes

        try:
            lib = ctypes.CDLL("libwebp.so.7")
            lib.WebPEncodeRGB.restype = ctypes.c_size_t
            lib.WebPEncodeRGB.argtypes = [
                ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
                ctypes.c_float, ctypes.POINTER(ctypes.c_void_p),
            ]
            lib.WebPEncodeRGBA.restype = ctypes.c_size_t
            lib.WebPEncodeRGBA.argtypes = lib.WebPEncodeRGB.argtypes
            lib.WebPEncodeLosslessRGBA.restype = ctypes.c_size_t
            lib.WebPEncodeLosslessRGBA.argtypes = [
                ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
                ctypes.POINTER(ctypes.c_void_p),
            ]
            lib.WebPFree.argtypes = [ctypes.c_void_p]
            lib.WebPInitDecoderConfigInternal.restype = ctypes.c_int
            lib.WebPInitDecoderConfigInternal.argtypes = [
                ctypes.c_void_p, ctypes.c_int,
            ]
            lib.WebPDecode.restype = ctypes.c_int
            lib.WebPDecode.argtypes = [
                ctypes.c_char_p, ctypes.c_size_t, ctypes.c_void_p,
            ]
            lib.WebPFreeDecBuffer.argtypes = [ctypes.c_void_p]
            _LIBWEBP = lib
        except (OSError, AttributeError):
            _LIBWEBP = False
    return _LIBWEBP


def libwebp_encode_rgb(rgb: bytes, width: int, height: int,
                       quality: float = 75.0) -> bytes:
    """Lossy-encode RGB24 with the SYSTEM libwebp (reference encoder for
    the clean-room VP8 decoder's round-trip gates). Raises WebpError
    when libwebp.so.7 is absent — there is no clean-room lossy encoder
    to fall back to, and a fixture that silently switched to lossless
    would stop exercising the VP8 path it exists to pin."""
    import ctypes

    lib = _load_libwebp()
    if not lib:
        raise WebpError(
            "libwebp.so.7 not available: lossy-VP8 fixtures need the "
            "reference encoder"
        )
    out = ctypes.c_void_p()
    n = lib.WebPEncodeRGB(rgb, width, height, width * 3,
                          ctypes.c_float(quality), ctypes.byref(out))
    if not n:
        raise WebpError("WebPEncodeRGB failed")
    data = ctypes.string_at(out.value, n)
    lib.WebPFree(out)
    return data


def libwebp_encode_rgba(rgba: bytes, width: int, height: int,
                        lossless: bool = True) -> bytes:
    """Encode RGBA32 with the SYSTEM libwebp: lossless VP8L by default
    (the reference encoder's transforms, colour cache and meta prefix
    codes, which the literal-only `encode_webp` never emits), or lossy
    VP8 plus an ALPH chunk. Raises WebpError when libwebp.so.7 is
    absent."""
    import ctypes

    lib = _load_libwebp()
    if not lib:
        raise WebpError("libwebp.so.7 not available")
    out = ctypes.c_void_p()
    if lossless:
        n = lib.WebPEncodeLosslessRGBA(rgba, width, height, width * 4,
                                       ctypes.byref(out))
    else:
        n = lib.WebPEncodeRGBA(rgba, width, height, width * 4,
                               ctypes.c_float(75.0), ctypes.byref(out))
    if not n:
        raise WebpError("libwebp RGBA encode failed")
    data = ctypes.string_at(out.value, n)
    lib.WebPFree(out)
    return data


def libwebp_decode_yuv(data: bytes):
    """Reference YUV planes from the SYSTEM libwebp (WebPDecode with
    MODE_YUV output) — (width, height, Y, U, V) numpy arrays, the
    ground truth the clean-room decoder is pinned against. Raises
    WebpError when libwebp.so.7 is absent."""
    import ctypes
    import struct as _st

    import numpy as np

    lib = _load_libwebp()
    if not lib:
        raise WebpError("libwebp.so.7 not available")
    cfg = ctypes.create_string_buffer(512)
    if not lib.WebPInitDecoderConfigInternal(cfg, 0x0209):
        raise WebpError("libwebp decoder ABI mismatch")
    out_off = 40  # WebPDecBuffer offset inside WebPDecoderConfig
    _st.pack_into("<i", cfg, out_off, 11)  # colorspace = MODE_YUV
    rc = lib.WebPDecode(data, len(data), cfg)
    if rc != 0:
        raise WebpError(f"WebPDecode failed: status {rc}")
    w, h = _st.unpack_from("<ii", cfg, out_off + 4)
    yp, up, vp, _ap = _st.unpack_from("<4Q", cfg, out_off + 16)
    ys, us, vs, _ = _st.unpack_from("<4i", cfg, out_off + 48)
    cw, ch = (w + 1) // 2, (h + 1) // 2

    def grab(ptr, stride, hh, ww):
        buf = (ctypes.c_uint8 * (stride * hh)).from_address(ptr)
        return np.frombuffer(buf, dtype=np.uint8).reshape(
            hh, stride)[:, :ww].copy()

    res = w, h, grab(yp, ys, h, w), grab(up, us, ch, cw), grab(vp, vs, ch, cw)
    lib.WebPFreeDecBuffer(ctypes.byref(cfg, out_off))
    return res


# --------------------------------------------------- animation frames (r9)

def build_anmf_chunk(x: int, y: int, width: int, height: int,
                     duration_ms: int, frame_chunk: bytes,
                     fourcc: bytes = b"VP8 ",
                     dispose: int = 0, blend: int = 0,
                     alph: bytes | None = None) -> bytes:
    """An ANMF chunk BODY (WebP container spec): 16-byte frame header
    (24-bit x/2, y/2, w-1, h-1, duration; 1 flag byte) followed by the
    frame's image chunk — preceded, for lossy frames with transparency,
    by an optional ALPH chunk (`alph` = the ALPH body). x and y must be
    even (the container stores them halved)."""
    if x % 2 or y % 2:
        raise WebpError("ANMF frame offsets must be even")
    head = (
        (x // 2).to_bytes(3, "little")
        + (y // 2).to_bytes(3, "little")
        + (width - 1).to_bytes(3, "little")
        + (height - 1).to_bytes(3, "little")
        + int(duration_ms).to_bytes(3, "little")
        + bytes([(dispose & 1) | ((blend & 1) << 1)])
    )
    pre = b""
    if alph is not None:
        pre = (b"ALPH" + len(alph).to_bytes(4, "little") + alph
               + (b"\x00" if len(alph) % 2 else b""))
    return head + pre + fourcc + len(frame_chunk).to_bytes(4, "little") + \
        frame_chunk + (b"\x00" if len(frame_chunk) % 2 else b"")


def iter_webp_frames(data: bytes):
    """Yield the frames of a WebP file as dicts — one per ANMF chunk for
    animations (frame geometry + duration from the 16-byte ANMF header,
    payload = the embedded VP8/VP8L chunk body), or a single synthetic
    frame for still images. Keys: frame_ix, x, y, width, height,
    duration_ms, codec ('vp8'|'vp8l'), payload (bytes), alph (the
    frame's optional ALPH chunk body or None), dispose (0 none /
    1 background), blend (0 alpha-blend / 1 overwrite).

    Header-sized parse; payloads are NOT decoded here — callers choose
    (decode_vp8_keyframe for lossy, decode_vp8l for lossless)."""
    data = bytes(data)
    if not is_webp(data):
        raise WebpError("not a RIFF/WEBP file")
    ix = 0
    saw_anim = False
    for fourcc, pos, size in _walk_riff_chunks(data):
        body = data[pos + 8:pos + 8 + size]
        if fourcc == b"ANMF":
            saw_anim = True
            if len(body) < 24:
                raise WebpError("truncated ANMF frame header")
            x2 = int.from_bytes(body[0:3], "little")
            y2 = int.from_bytes(body[3:6], "little")
            fw = int.from_bytes(body[6:9], "little") + 1
            fh = int.from_bytes(body[9:12], "little") + 1
            dur = int.from_bytes(body[12:15], "little")
            flags = body[15]
            # Sub-chunks: an OPTIONAL ALPH chunk precedes the bitstream
            # chunk for lossy-with-alpha frames (container spec; r10
            # ADVICE — rejecting ALPH here threw on every animated
            # lossy-alpha WebP). Walk past it to the VP8/VP8L chunk.
            spos = 16
            alph = None
            while True:
                if spos + 8 > len(body):
                    raise WebpError("ANMF frame has no image sub-chunk")
                sub = body[spos:spos + 4]
                (ssize,) = struct.unpack("<I", body[spos + 4:spos + 8])
                payload = body[spos + 8:spos + 8 + ssize]
                if len(payload) < ssize:
                    raise WebpError("ANMF sub-chunk payload truncated")
                if sub == b"ALPH":
                    alph = payload
                    spos += 8 + ssize + (ssize & 1)  # chunks are padded
                    continue
                if sub not in (b"VP8 ", b"VP8L"):
                    raise WebpError(f"unsupported ANMF sub-chunk {sub!r}")
                break
            yield {
                "frame_ix": ix, "x": 2 * x2, "y": 2 * y2,
                "width": fw, "height": fh, "duration_ms": dur,
                "codec": "vp8" if sub == b"VP8 " else "vp8l",
                "payload": payload, "alph": alph,
                "dispose": flags & 1, "blend": (flags >> 1) & 1,
            }
            ix += 1
    if saw_anim:
        return
    still_alph = None
    for fourcc, pos, size in _walk_riff_chunks(data):
        if fourcc == b"ALPH":
            still_alph = data[pos + 8:pos + 8 + size]
        elif fourcc in (b"VP8 ", b"VP8L"):
            body = data[pos + 8:pos + 8 + size]
            m = webp_metadata(data)
            yield {
                "frame_ix": 0, "x": 0, "y": 0,
                "width": m["width"], "height": m["height"],
                "duration_ms": 0,
                "codec": "vp8" if fourcc == b"VP8 " else "vp8l",
                "payload": body, "alph": still_alph,
                "dispose": 0, "blend": 1,
            }
            return
    raise WebpError("no image chunk found")


# --------------------------------------------------- ALPH alpha plane (r9)

def decode_alph(body: bytes, width: int, height: int) -> bytes:
    """Decode an ALPH chunk body into the alpha plane (row-major
    width*height bytes) — the missing quarter of lossy-WebP-with-alpha.

    Container spec layout: one header byte ((Rsv<<6)|(P<<4)|(F<<2)|C)
    then the data. C=0 is raw filtered bytes; C=1 is a HEADERLESS VP8L
    image stream of implicit dimensions whose GREEN channel carries the
    alpha values (the same entropy machinery as decode_vp8l, reused).
    The pre-processing bits describe an encode-time level reduction and
    need no decoder inverse. Filtering (F=1 horizontal, 2 vertical,
    3 gradient) is inverted row-by-row with the spec's border rules:
    the first pixel of the image predicts from 0, the rest of row 0
    from the left, the rest of column 0 from above."""
    if not body:
        raise WebpError("empty ALPH chunk")
    c = body[0] & 3
    f = (body[0] >> 2) & 3
    n = width * height
    if c == 0:
        vals = bytearray(body[1:1 + n])
        if len(vals) < n:
            raise WebpError("raw ALPH data truncated")
    elif c == 1:
        br = _BitReader(body[1:])
        px, transforms, cur_w = _decode_image_stream(br, width, height, True)
        for ttype, p1, p2 in reversed(transforms):
            if ttype == 3:
                px, cur_w = _inv_color_index(px, cur_w, height, p2)
            elif ttype == 2:
                _inv_subtract_green(px)
            elif ttype == 0:
                _inv_predictor(px, cur_w, height, p1, p2)
            else:
                _inv_color_transform(px, cur_w, height, p1, p2)
        if cur_w != width:
            raise WebpError("ALPH width mismatch after transforms")
        vals = bytearray((p >> 8) & 0xFF for p in px)  # green channel
    else:
        raise WebpError(f"unsupported ALPH compression method {c}")

    if f == 0:
        return bytes(vals)
    out = bytearray(n)
    for y in range(height):
        row = y * width
        prev = out[row - width:row] if y else None
        if f == 2 and prev is not None:  # vertical: predictor = above
            for x in range(width):
                out[row + x] = (vals[row + x] + prev[x]) & 0xFF
        elif f == 3 and prev is not None:  # gradient
            left = prev[0]
            top_left = prev[0]
            for x in range(width):
                top = prev[x]
                g = left + top - top_left
                g = 0 if g < 0 else (255 if g > 255 else g)
                left = (vals[row + x] + g) & 0xFF
                top_left = top
                out[row + x] = left
        else:
            # horizontal — also the first row of vertical/gradient (the
            # spec's border rule). Seed: 0 at the image's first pixel,
            # the pixel ABOVE at later rows' first pixels.
            acc = vals[row] & 0xFF if prev is None else (vals[row] + prev[0]) & 0xFF
            out[row] = acc
            for x in range(1, width):
                acc = (vals[row + x] + acc) & 0xFF
                out[row + x] = acc
    return bytes(out)


def decode_webp_alpha(data: bytes):
    """(width, height, alpha bytes) from a VP8X container's ALPH chunk
    (lossy WebP with transparency). Raises WebpError when the file has
    no ALPH chunk — VP8L files carry alpha inside the ARGB decode
    (decode_webp), and pure-lossy files have none."""
    data = bytes(data)
    if not is_webp(data):
        raise WebpError("not a RIFF/WEBP file")
    m = webp_metadata(data)
    w, h = m["width"], m["height"]
    for fourcc, pos, size in _walk_riff_chunks(data):
        if fourcc == b"ALPH":
            return w, h, decode_alph(data[pos + 8:pos + 8 + size], w, h)
    raise WebpError("no ALPH chunk found")
