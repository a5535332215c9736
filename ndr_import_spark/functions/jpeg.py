"""Stdlib+numpy baseline JPEG codec — clean-room from the PUBLIC spec
(ITU-T T.81 / ISO-IEC 10918-1; tables from Annex K).

Scope — the profile that covers the overwhelming majority of crawl-corpus
images:

* decode: baseline sequential DCT (SOF0), extended sequential (SOF1) AND
  progressive DCT (SOF2, T.81 Annex G: spectral selection + successive
  approximation — DC first/refine, AC first/refine with EOB runs, in any
  conformant scan script), Huffman entropy coding, 8-bit samples,
  grayscale and 3-component YCbCr (JFIF), arbitrary sampling factors
  h,v ∈ {1..4} (covers 4:4:4, 4:2:2, 4:2:0), restart markers (DRI/RSTn),
  multiple DQT/DHT segments, FF00 byte-stuffing.  Arithmetic coding,
  12-bit samples, hierarchical and 4-component (CMYK/Adobe) files raise
  `JpegError` — an honest unsupported-profile signal, not silent garbage.
* encode: baseline SOF0 with the Annex K quantisation tables (IJG quality
  scaling) and Annex K "typical" Huffman tables; 4:4:4, 4:2:2 or 4:2:0
  luma sampling.  A progressive SOF2 encoder (libjpeg-style scan script:
  split DC, banded AC firsts, full-band refinements) exists for fixtures
  and roundtrip tests — it emits the SAME quantised coefficients as the
  baseline encoder, so progressive decode must equal baseline decode
  bit-for-bit.  Used for fixtures, roundtrip tests and JPEG-in →
  JPEG-out resizing.

Design notes: the Huffman loop is pure Python (per-image, runs inside
Arrow-batched `mapInPandas` tasks — never per-pixel Python) and
table-driven: a word-wise bit buffer and a 9-bit lookahead table per DHT
table (`_HuffTable`) decode most symbols in one step; the per-pixel math
(dequantise, IDCT, upsample, colour convert) is vectorised numpy over
all blocks of a component at once.  The IDCT is the exact
orthonormal DCT-III matrix product — no fast-but-approximate integer
kernel — so decode is deterministic across platforms.

No counterpart in the reference (`publichealthengland/ndr_import` has no
image handling); this backs the north-star multimodal operators in
operators/multimodal.py.
"""

from __future__ import annotations

import struct

import numpy as np


class JpegError(ValueError):
    pass


def is_jpeg(data: bytes) -> bool:
    return len(data) >= 3 and data[:3] == b"\xff\xd8\xff"


# zigzag scan position -> natural (row-major) position, T.81 Figure 5
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
_ZIGZAG_LIST = ZIGZAG.tolist()
_ZERO_BLOCK = [0] * 64

# Annex K.1 / K.2 example quantisation tables (zigzag order)
K_LUMA_QUANT = np.array([
    16, 11, 12, 14, 12, 10, 16, 14,
    13, 14, 18, 17, 16, 19, 24, 40,
    26, 24, 22, 22, 24, 49, 35, 37,
    29, 40, 58, 51, 61, 60, 57, 51,
    56, 55, 64, 72, 92, 78, 64, 68,
    87, 69, 55, 56, 80, 109, 81, 87,
    95, 98, 103, 104, 103, 62, 77, 113,
    121, 112, 100, 120, 92, 101, 103, 99,
], dtype=np.int64)
K_CHROMA_QUANT = np.array([
    17, 18, 18, 24, 21, 24, 47, 26,
    26, 47, 99, 66, 56, 66, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K.3 "typical" Huffman tables: (bits[1..16], huffval)
K_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
K_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
K_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
K_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II matrix T: forward F = T @ p @ T.T, inverse
    p = T.T @ F @ T (T.81 A.3.3 with the orthonormal scaling folded in)."""
    T = np.zeros((8, 8))
    for i in range(8):
        for j in range(8):
            c = np.sqrt(1 / 8) if i == 0 else np.sqrt(2 / 8)
            T[i, j] = c * np.cos((2 * j + 1) * i * np.pi / 16)
    return T


_DCT_T = _dct_matrix()


_LOOKAHEAD = 9  # bits peeked per Huffman decode


class _HuffTable:
    """One DHT table prepared for decoding.

    `look` maps every 9-bit window of the stream to ``symbol << 4 |
    length`` of the code it starts with, for codes of up to 9 bits
    (libjpeg's lookahead table, jdhuff.c); a 0 entry means the window
    begins a longer code (or no code at all) and sends the decoder to
    `codes`, the canonical {code_length: {code: symbol}} map (T.81
    Annex C code assignment), walked from length 10 upward."""

    __slots__ = ("look", "codes")

    def __init__(self, bits: list[int], huffval: list[int]) -> None:
        codes: dict[int, dict[int, int]] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            codes[length] = {}
            for _ in range(bits[length - 1]):
                codes[length][code] = huffval[k]
                code += 1
                k += 1
            code <<= 1
        self.codes = codes
        look = [0] * (1 << _LOOKAHEAD)
        # longest first, so that where a corrupt table makes one code the
        # prefix of another the shorter one wins, as in the bit walk
        for length in range(_LOOKAHEAD, 0, -1):
            span = 1 << (_LOOKAHEAD - length)
            for code, sym in codes[length].items():
                if code < (1 << length):  # overfull tables assign more
                    base = code * span
                    look[base:base + span] = [sym << 4 | length] * span
        self.look = look


def _build_encode_table(bits: list[int], huffval: list[int]) -> dict:
    """Canonical Huffman encode map: {symbol: (code, length)}."""
    table: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over one scan's entropy-coded segment.

    The buffer `buf` holds `cnt` unread bits and is topped up 4 bytes at
    a time where they hold no 0xFF, else a byte at a time, unstuffing
    FF00 on the way, so a caller takes up to 16 bits in one step.  At a
    marker the reader supplies 1-bits without moving past it:
    spec-conformant streams only pad with 1-bits before a marker.  Past
    the end of the data (or after a final 0xFF) it supplies 0-bits and
    counts them in `pad`; consuming any of them is the underrun, which
    `check` raises — callers check after every MCU and before raising any
    other error (`fail`), so a short stream raises the underrun error
    exactly when a bit-at-a-time reader would.  `virt` counts the bytes
    supplied at a marker or past the end, which `restart` must not step
    back over.

    The sequential scan loop keeps `buf` and `cnt` in locals and hands
    them back (`br.buf, br.cnt = buf, cnt`) before calling a method."""

    __slots__ = ("data", "pos", "buf", "cnt", "pad", "virt", "eof")

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.buf = 0
        self.cnt = 0
        self.pad = 0
        self.virt = 0
        self.eof = "entropy-coded data underrun"

    def fill(self, buf: int, cnt: int, need: int) -> tuple[int, int]:
        """(buf, cnt) topped up to at least `need` bits."""
        d = self.data
        n = len(d)
        pos = self.pos
        while cnt < need:
            word = d[pos:pos + 4]
            if len(word) == 4 and 0xFF not in word:  # no stuffing, no marker
                pos += 4
                buf = buf << 32 | int.from_bytes(word, "big")
                cnt += 32
                continue
            b = d[pos] if pos < n else None
            if b is not None and b != 0xFF:
                pos += 1
                buf = buf << 8 | b
            elif b is None or pos + 1 >= n:
                if b is not None:
                    self.eof = "truncated after 0xFF in entropy data"
                buf <<= 8
                self.pad += 8
                self.virt += 1
            elif d[pos + 1] == 0x00:
                pos += 2  # stuffed byte
                buf = buf << 8 | 0xFF
            else:
                buf = buf << 8 | 0xFF  # a marker: 1-bits, stay before it
                self.virt += 1
            cnt += 8
        self.pos = pos
        return buf & ((1 << cnt) - 1), cnt

    def check(self) -> None:
        if self.cnt < self.pad:
            raise JpegError(self.eof)

    def fail(self, msg: str):
        self.check()
        raise JpegError(msg)

    def read_bits(self, n: int) -> int:
        if self.cnt < n:
            self.buf, self.cnt = self.fill(self.buf, self.cnt, max(n, 16))
        self.cnt -= n
        return (self.buf >> self.cnt) & ((1 << n) - 1)

    def read_bit(self) -> int:
        if not self.cnt:
            self.buf, self.cnt = self.fill(self.buf, self.cnt, 16)
        self.cnt -= 1
        return (self.buf >> self.cnt) & 1

    def restart(self) -> None:
        """Byte-align and consume an RSTn marker."""
        # step back over whole bytes loaded but not read: the marker
        # search starts right after the last byte a bit was read from
        d = self.data
        back = self.cnt >> 3
        back -= min(back, self.virt)
        for _ in range(back):
            self.pos -= 2 if d[self.pos - 2:self.pos] == b"\xff\x00" else 1
        self.buf = self.cnt = self.pad = self.virt = 0
        # skip pad bytes up to the marker
        while self.pos + 1 < len(d) and d[self.pos] != 0xFF:
            self.pos += 1
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker
        # — FF FF D0 is a legal restart, so step past repeated FFs
        while self.pos + 2 < len(d) and d[self.pos] == 0xFF and d[self.pos + 1] == 0xFF:
            self.pos += 1
        if self.pos + 1 >= len(d) or not (0xD0 <= d[self.pos + 1] <= 0xD7):
            raise JpegError("expected restart marker")
        self.pos += 2


def _huff_decode(br: _BitReader, table: _HuffTable) -> int:
    """Next Huffman symbol: one lookahead-table step for codes of up to
    9 bits, else the walk over lengths 10..16 (the scan loop in
    `_decode_scan` inlines the table step)."""
    if br.cnt < 16:
        br.buf, br.cnt = br.fill(br.buf, br.cnt, 16)
    e = table.look[(br.buf >> (br.cnt - _LOOKAHEAD)) & ((1 << _LOOKAHEAD) - 1)]
    if e:
        br.cnt -= e & 15
        return e >> 4
    return _huff_decode_long(br, table)


def _huff_decode_long(br: _BitReader, table: _HuffTable) -> int:
    """Codes longer than the lookahead window, read on from its 9 bits
    (the buffer holds at least 16 bits on entry)."""
    br.cnt -= _LOOKAHEAD
    code = (br.buf >> br.cnt) & ((1 << _LOOKAHEAD) - 1)
    codes = table.codes
    for length in range(_LOOKAHEAD + 1, 17):
        br.cnt -= 1
        code = code << 1 | (br.buf >> br.cnt) & 1
        sym = codes[length].get(code)
        if sym is not None:
            return sym
    br.fail("invalid Huffman code")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map a t-bit magnitude to its signed value."""
    if t == 0:
        return 0
    return v - (1 << t) + 1 if v < (1 << (t - 1)) else v


def decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode baseline/extended-sequential JPEG bytes.

    Returns (width, height, channels, pixels) with pixels packed
    row-major uint8 — channels = 1 (grayscale) or 3 (RGB after JFIF
    YCbCr conversion), matching `png.decode_png`'s contract shape."""
    if not is_jpeg(data):
        raise JpegError("not a JPEG (missing SOI)")
    try:
        return _decode_markers(data)
    except JpegError:
        raise
    except (IndexError, ValueError, OverflowError, struct.error) as exc:
        # truncated segment payloads surface as IndexError/struct.error
        # from slicing or as numpy shape ValueErrors (e.g. a DQT cut mid
        # table); a corrupt DHT can hold magnitude categories far above
        # 11 bits, whose coefficients overflow the numpy planes — all must
        # honour the "garbage raises JpegError" contract
        raise JpegError(f"truncated or corrupt JPEG stream: {exc}") from exc


def _decode_markers(data: bytes) -> tuple[int, int, int, bytes]:
    qt: dict[int, np.ndarray] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    pos = 2
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise JpegError(f"expected marker at offset {pos}")
        marker = data[pos + 1]
        if marker == 0xFF:  # optional fill byte before a marker
            pos += 1
            continue
        if marker == 0xD8:  # stray SOI
            pos += 2
            continue
        if marker == 0xD9:  # EOI before SOS
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # TEM and RSTn are standalone markers (T.81 B.1.1.3): no
            # length field follows — treating the next two bytes as a
            # length desynchronised the loop on rare-but-conformant files
            pos += 2
            continue
        seg_len = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
        seg = data[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:  # DQT — may hold several tables
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                i += 1
                if pq == 0:
                    vals = np.frombuffer(seg[i : i + 64], dtype=np.uint8).astype(
                        np.int64
                    )
                    i += 64
                else:
                    vals = np.frombuffer(
                        seg[i : i + 128], dtype=">u2"
                    ).astype(np.int64)
                    i += 128
                nat = np.zeros(64, dtype=np.int64)
                nat[ZIGZAG] = vals
                qt[tq] = nat.reshape(8, 8)
        elif marker == 0xC4:  # DHT — may hold several tables
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                bits = list(seg[i + 1 : i + 17])
                cnt = sum(bits)
                huffval = list(seg[i + 17 : i + 17 + cnt])
                i += 17 + cnt
                tbl = _HuffTable(bits, huffval)
                (dc_tables if tc == 0 else ac_tables)[th] = tbl
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0 / SOF1 / SOF2
            precision = seg[0]
            if precision != 8:
                raise JpegError(f"unsupported sample precision {precision}")
            height, width = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            if ncomp not in (1, 3):
                raise JpegError(f"unsupported component count {ncomp}")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + c * 3 : 9 + c * 3]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            frame = {"w": width, "h": height, "comps": comps,
                     "progressive": marker == 0xC2}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise JpegError(f"unsupported SOF marker 0xFF{marker:02X}")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise JpegError("SOS before SOF")
            ns = seg[0]
            scan = {}
            scan_order = []
            for c in range(ns):
                cs, tdta = seg[1 + c * 2 : 3 + c * 2]
                scan[cs] = (tdta >> 4, tdta & 15)
                scan_order.append(cs)
            if not frame["progressive"]:
                return _decode_scan(
                    data,
                    pos + 2 + seg_len,
                    frame,
                    scan,
                    qt,
                    dc_tables,
                    ac_tables,
                    restart_interval,
                )
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 15
            pos = _decode_progressive_scan(
                data,
                pos + 2 + seg_len,
                frame,
                scan_order,
                scan,
                dc_tables,
                ac_tables,
                restart_interval,
                ss,
                se,
                ah,
                al,
            )
            continue
        # APPn / COM / anything else: skip
        pos += 2 + seg_len
    if frame is not None and frame.get("progressive") and frame.get("_inited"):
        return _assemble(frame, qt)
    raise JpegError("no SOS marker found")


def _decode_scan(data, pos, frame, scan, qt, dc_tables, ac_tables, dri):
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    if w == 0 or h == 0:
        raise JpegError("zero image dimension")
    if len(comps) == 1:
        # T.81 A.2.2: a single-component scan is NON-interleaved — each
        # MCU is exactly one 8x8 data unit in raster order, regardless of
        # the SOF sampling factors (some encoders emit h=v=2 on grayscale;
        # interpreting that as interleaved 2x2-block MCUs desynchronises
        # the Huffman stream on a conformant file)
        comps[0]["h"] = comps[0]["v"] = 1
    if not all(1 <= c["h"] <= 4 and 1 <= c["v"] <= 4 for c in comps):
        # T.81 B.2.2: H, V in 1..4 for every component (a 0 would divide
        # by zero when the planes are upsampled)
        raise JpegError("invalid sampling factors")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    for c in comps:
        if c["id"] not in scan:
            raise JpegError("scan does not cover every frame component")
        c["bw"] = mcux * c["h"]  # blocks per row in this component
        c["bh"] = mcuy * c["v"]
        td, ta = scan[c["id"]]
        if td not in dc_tables or ta not in ac_tables:
            raise JpegError("scan references undefined Huffman table")
        if c["tq"] not in qt:
            raise JpegError("component references undefined quant table")
        c["dc"] = dc_tables[td]
        c["ac"] = ac_tables[ta]
    # natural-order coefficients, 64 per block, appended to a flat list
    # per component in decode (MCU) order as the blocks arrive — so
    # storage grows with the data actually decoded; one array is made
    # after the scan.  `units` lists the data units of one MCU.
    coefs = [[] for _ in comps]
    units = [
        (ci, coefs[ci], c["dc"].look, c["dc"], c["ac"].look, c["ac"])
        for ci, c in enumerate(comps)
        for _ in range(c["v"] * c["h"])
    ]
    preds = [0] * len(comps)
    br = _BitReader(data, pos)
    fill = br.fill
    buf = cnt = 0
    zz = _ZIGZAG_LIST
    shift = _LOOKAHEAD
    mask = (1 << _LOOKAHEAD) - 1
    for m in range(mcux * mcuy):
        if dri and m > 0 and m % dri == 0:
            br.buf, br.cnt = buf, cnt
            br.restart()
            buf = cnt = 0
            preds = [0] * len(comps)
        for ci, coef, dclook, dctab, aclook, actab in units:
            base = len(coef)
            coef += _ZERO_BLOCK
            # DC: the table step of _huff_decode, inlined
            if cnt < 16:
                buf, cnt = fill(buf, cnt, 16)
            e = dclook[(buf >> (cnt - shift)) & mask]
            if e:
                cnt -= e & 15
                t = e >> 4
            else:
                br.buf, br.cnt = buf, cnt
                t = _huff_decode_long(br, dctab)
                buf, cnt = br.buf, br.cnt
            if t:
                if cnt < t:
                    buf, cnt = fill(buf, cnt, t)
                cnt -= t
                v = (buf >> cnt) & ((1 << t) - 1)
                preds[ci] += v - (1 << t) + 1 if v < (1 << (t - 1)) else v
            coef[base] = preds[ci]
            k = 1
            while k < 64:
                if cnt < 16:
                    buf, cnt = fill(buf, cnt, 16)
                e = aclook[(buf >> (cnt - shift)) & mask]
                if e:
                    cnt -= e & 15
                    rs = e >> 4
                else:
                    br.buf, br.cnt = buf, cnt
                    rs = _huff_decode_long(br, actab)
                    buf, cnt = br.buf, br.cnt
                s = rs & 15
                if s == 0:
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    break  # EOB
                k += rs >> 4
                if k > 63:
                    br.buf, br.cnt = buf, cnt
                    br.fail("AC coefficient index out of range")
                if cnt < s:
                    buf, cnt = fill(buf, cnt, s)
                cnt -= s
                v = (buf >> cnt) & ((1 << s) - 1)
                coef[base + zz[k]] = v - (1 << s) + 1 if v < (1 << (s - 1)) else v
                k += 1
        if cnt < br.pad:
            raise JpegError(br.eof)
    for c, coef in zip(comps, coefs):
        # MCU order -> raster order of the component's blocks
        c["coef"] = (
            np.array(coef, dtype=np.float64)
            .reshape(mcuy, mcux, c["v"], c["h"], 64)
            .transpose(0, 2, 1, 3, 4)
            .reshape(-1, 64)
        )
    frame["hmax"], frame["vmax"] = hmax, vmax
    return _assemble(frame, qt)


def _assemble(frame, qt) -> tuple[int, int, int, bytes]:
    """Vectorised dequantise + exact IDCT + upsample + colour convert over
    fully-populated coefficient arrays — shared by the sequential path and
    the progressive path (which reaches here at EOI, after every scan has
    deposited its coefficient bits)."""
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    planes = []
    T = _DCT_T
    for c in comps:
        if c["tq"] not in qt:
            raise JpegError("component references undefined quant table")
        coef = np.asarray(c["coef"], dtype=np.float64).reshape(-1, 8, 8)
        deq = coef * qt[c["tq"]][None, :, :].astype(np.float64)
        pix = np.einsum("ij,njk,kl->nil", T.T, deq, T) + 128.0
        pix = np.clip(np.round(pix), 0, 255).astype(np.uint8)
        plane = (
            pix.reshape(c["bh"], c["bw"], 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(c["bh"] * 8, c["bw"] * 8)
        )
        # upsample to full resolution (sample replication) and crop
        ry, rx = vmax // c["v"], hmax // c["h"]
        if vmax % c["v"] or hmax % c["h"]:
            raise JpegError("non-integer sampling ratio")
        if ry > 1:
            plane = np.repeat(plane, ry, axis=0)
        if rx > 1:
            plane = np.repeat(plane, rx, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return w, h, 1, planes[0].tobytes()
    y = planes[0].astype(np.float64)
    cb = planes[1].astype(np.float64) - 128.0
    cr = planes[2].astype(np.float64) - 128.0
    # JFIF YCbCr -> RGB (ITU-R BT.601 full range)
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack(
        [np.clip(np.round(ch), 0, 255).astype(np.uint8) for ch in (r, g, b)],
        axis=2,
    )
    return w, h, 3, rgb.tobytes()


def _init_progressive_frame(frame) -> None:
    """Lazy per-frame coefficient state, created at the first SOS:
    MCU-padded int32 coefficient planes per component (natural order),
    persisting across scans — each scan deposits some bits of some band."""
    if frame.get("_inited"):
        return
    comps = frame["comps"]
    w, h = frame["w"], frame["h"]
    if w == 0 or h == 0:
        raise JpegError("zero image dimension")
    if len(comps) == 1:
        # same T.81 A.2.2 rule as the sequential path: a single-component
        # frame is decoded non-interleaved with 1x1 effective sampling
        comps[0]["h"] = comps[0]["v"] = 1
    if not all(1 <= c["h"] <= 4 and 1 <= c["v"] <= 4 for c in comps):
        # T.81 B.2.2: H, V in 1..4 for every component (a 0 would divide
        # by zero when the planes are upsampled)
        raise JpegError("invalid sampling factors")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    for c in comps:
        c["bw"] = mcux * c["h"]
        c["bh"] = mcuy * c["v"]
        # non-interleaved scans cover the component's OWN block grid
        # (T.81 A.2.2: ceil of the scaled dimensions), not the MCU padding
        c["nbw"] = -(-(-(-w * c["h"] // hmax)) // 8)
        c["nbh"] = -(-(-(-h * c["v"] // vmax)) // 8)
        c["coef"] = np.zeros((c["bh"] * c["bw"], 64), dtype=np.int32)
        c["pred"] = 0
    frame["mcux"], frame["mcuy"] = mcux, mcuy
    frame["hmax"], frame["vmax"] = hmax, vmax
    frame["_inited"] = True


def _next_marker_pos(data: bytes, pos: int) -> int:
    """Position of the next non-RST, non-stuffed marker at/after `pos` —
    where the enclosing marker loop resumes after a scan's entropy data."""
    n = len(data)
    while pos + 1 < n:
        if data[pos] == 0xFF and data[pos + 1] not in (0x00,) and not (
            0xD0 <= data[pos + 1] <= 0xD7
        ):
            if data[pos + 1] == 0xFF:  # fill byte, keep scanning
                pos += 1
                continue
            return pos
        pos += 1
    raise JpegError("entropy data ran past end of stream")


def _decode_progressive_scan(
    data, pos, frame, scan_order, scan, dc_tables, ac_tables, dri, ss, se, ah, al
):
    """One SOF2 scan (T.81 Annex G.2): deposits `al`-shifted coefficient
    bits for the (ss..se) band of the scan's components into the frame's
    persistent coefficient planes.  Returns the stream position of the
    marker that follows the scan's entropy-coded data."""
    _init_progressive_frame(frame)
    comps_by_id = {c["id"]: c for c in frame["comps"]}
    try:
        scomps = [comps_by_id[cid] for cid in scan_order]
    except KeyError as exc:
        raise JpegError(f"scan references unknown component {exc}") from exc
    if ss > se or se > 63 or ah > 13 or al > 13:
        raise JpegError("invalid progressive scan header")
    if ss == 0 and se != 0:
        raise JpegError("progressive scan mixes DC and AC (Ss=0 needs Se=0)")
    if ss > 0 and len(scomps) != 1:
        raise JpegError("progressive AC scan must be single-component")
    br = _BitReader(data, pos)
    if ss == 0:
        _prog_dc_scan(br, frame, scomps, scan, dc_tables, dri, ah, al)
    else:
        _prog_ac_scan(br, scomps[0], scan, ac_tables, dri, ss, se, ah, al)
    return _next_marker_pos(data, br.pos)


def _prog_dc_scan(br, frame, scomps, scan, dc_tables, dri, ah, al):
    """DC scan: first pass (Ah=0) Huffman-decodes point-transformed DC
    diffs; refinement (Ah>0) reads one correction bit per block.  Multi-
    component DC scans interleave in MCU order; a single-component scan is
    non-interleaved over that component's own block grid."""
    for c in scomps:
        c["pred"] = 0
        if ah == 0:
            td = scan[c["id"]][0]
            if td not in dc_tables:
                raise JpegError("scan references undefined Huffman table")
            c["_dc"] = dc_tables[td]
    interleaved = len(scomps) > 1
    if interleaved:
        mcux, mcuy = frame["mcux"], frame["mcuy"]
        units = mcux * mcuy
    else:
        c = scomps[0]
        units = c["nbw"] * c["nbh"]
    for m in range(units):
        if dri and m > 0 and m % dri == 0:
            br.restart()
            for c in scomps:
                c["pred"] = 0
        if interleaved:
            my, mx = divmod(m, frame["mcux"])
            for c in scomps:
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        bi = (my * c["v"] + by) * c["bw"] + (mx * c["h"] + bx)
                        _prog_dc_unit(br, c, bi, ah, al)
        else:
            c = scomps[0]
            my, mx = divmod(m, c["nbw"])
            _prog_dc_unit(br, c, my * c["bw"] + mx, ah, al)
        br.check()


def _prog_dc_unit(br, c, bi, ah, al):
    if ah == 0:
        t = _huff_decode(br, c["_dc"])
        diff = _extend(br.read_bits(t), t) if t else 0
        c["pred"] += diff
        c["coef"][bi, 0] = c["pred"] << al
    else:
        if br.read_bit():
            c["coef"][bi, 0] |= 1 << al


def _prog_ac_scan(br, c, scan, ac_tables, dri, ss, se, ah, al):
    """AC scan over one component's own block grid (non-interleaved).
    First pass (Ah=0): runs/sizes with EOBn end-of-band runs (G.1.2.2);
    refinement (Ah>0): correction bits threaded through the run structure
    (G.1.2.3).  Restart intervals reset the EOB run and byte-align."""
    ta = scan[c["id"]][1]
    if ta not in ac_tables:
        raise JpegError("scan references undefined Huffman table")
    actab = ac_tables[ta]
    coef = c["coef"]
    zz = ZIGZAG
    eobrun = 0
    nb = c["nbw"] * c["nbh"]
    for m in range(nb):
        if dri and m > 0 and m % dri == 0:
            br.restart()
            eobrun = 0
        my, mx = divmod(m, c["nbw"])
        bi = my * c["bw"] + mx
        if ah == 0:
            if eobrun > 0:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = _huff_decode(br, actab)
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r == 15:  # ZRL
                        k += 16
                        continue
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += br.read_bits(r)
                    break
                k += r
                if k > se:
                    br.fail("AC coefficient index out of range")
                coef[bi, zz[k]] = _extend(br.read_bits(s), s) << al
                k += 1
        else:
            eobrun = _prog_ac_refine_block(
                br, actab, coef, bi, zz, ss, se, al, eobrun
            )
        br.check()


def _prog_ac_refine_block(br, actab, coef, bi, zz, ss, se, al, eobrun):
    """AC successive-approximation refinement for one block (T.81 G.1.2.3,
    the libjpeg decode_mcu_AC_refine control flow): newly-nonzero
    coefficients arrive as ±1<<al; every already-nonzero coefficient
    crossed by a run (or remaining after the EOB) absorbs one correction
    bit."""
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _huff_decode(br, actab)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r != 15:
                    eobrun = (1 << r)
                    if r:
                        eobrun += br.read_bits(r)
                    break
                newval = 0  # ZRL: skip 16 zero-history positions
            else:
                if s != 1:
                    br.fail("invalid magnitude in AC refinement scan")
                newval = p1 if br.read_bit() else m1
            while k <= se:
                ci = zz[k]
                if coef[bi, ci] != 0:
                    if br.read_bit():
                        if (coef[bi, ci] & p1) == 0:
                            coef[bi, ci] += p1 if coef[bi, ci] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                coef[bi, zz[k]] = newval
            k += 1
    if eobrun > 0:
        # refine the remaining already-nonzero positions of this band
        while k <= se:
            ci = zz[k]
            if coef[bi, ci] != 0:
                if br.read_bit():
                    if (coef[bi, ci] & p1) == 0:
                        coef[bi, ci] += p1 if coef[bi, ci] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


class _BitWriter:
    __slots__ = ("out", "buf", "cnt")

    def __init__(self) -> None:
        self.out = bytearray()
        self.buf = 0
        self.cnt = 0

    def write(self, code: int, length: int) -> None:
        self.buf = (self.buf << length) | (code & ((1 << length) - 1))
        self.cnt += length
        while self.cnt >= 8:
            self.cnt -= 8
            b = (self.buf >> self.cnt) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
        self.buf &= (1 << self.cnt) - 1

    def flush(self) -> None:
        if self.cnt:
            pad = 8 - self.cnt
            self.write((1 << pad) - 1, pad)  # 1-bit padding per spec


def _quality_scaled(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling of an Annex K table (public libjpeg formula)."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)


def _encode_coef_block(bw, coef_zz, pred, dc_enc, ac_enc):
    """Huffman-encode one quantised block (zigzag int array); returns DC."""
    dc = int(coef_zz[0])
    diff = dc - pred
    mag = abs(diff)
    t = mag.bit_length()
    code, length = dc_enc[t]
    bw.write(code, length)
    if t:
        bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if coef_zz[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = int(coef_zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_enc[0xF0]
            bw.write(code, length)
            run -= 16
        mag = abs(v)
        s = mag.bit_length()
        code, length = ac_enc[(run << 4) | s]
        bw.write(code, length)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, length = ac_enc[0x00]  # EOB
        bw.write(code, length)
    return dc


def _prepare_encode(width, height, pixels, channels, quality, subsampling):
    """Shared encoder front half: colour convert, downsample, pad, DCT,
    quantise.  Returns (comps-with-qcoef, lq, cq, mcux, mcuy, hmax, vmax).
    Both the baseline and the progressive encoder run THIS — identical
    quantised coefficients, so the two outputs must decode identically."""
    if channels not in (1, 3):
        raise JpegError("encode_jpeg takes 1 or 3 channel input")
    arr = np.frombuffer(bytes(pixels), dtype=np.uint8)
    if arr.size != width * height * channels:
        raise JpegError("pixel buffer does not match dimensions")
    arr = arr.reshape(height, width, channels).astype(np.float64)
    lq = _quality_scaled(K_LUMA_QUANT, quality)
    cq = _quality_scaled(K_CHROMA_QUANT, quality)
    lq_nat = np.zeros(64, dtype=np.int64)
    lq_nat[ZIGZAG] = lq
    cq_nat = np.zeros(64, dtype=np.int64)
    cq_nat[ZIGZAG] = cq
    if channels == 3:
        r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        hs, vs = {"4:4:4": (1, 1), "4:2:2": (2, 1), "4:2:0": (2, 2)}.get(
            subsampling, (None, None)
        )
        if hs is None:
            raise JpegError(f"unknown subsampling {subsampling!r}")
        comps = [
            {"id": 1, "h": hs, "v": vs, "tq": 0, "plane": y},
            {"id": 2, "h": 1, "v": 1, "tq": 1, "plane": cb},
            {"id": 3, "h": 1, "v": 1, "tq": 1, "plane": cr},
        ]
    else:
        comps = [{"id": 1, "h": 1, "v": 1, "tq": 0, "plane": arr[:, :, 0]}]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    for c in comps:
        # downsample by box mean to this component's resolution, then pad
        # (edge-replicate) to whole MCUs and pre-compute quantised blocks
        ry, rx = vmax // c["v"], hmax // c["h"]
        plane = c["plane"]
        if ry > 1 or rx > 1:
            ph = -(-plane.shape[0] // ry) * ry
            pw = -(-plane.shape[1] // rx) * rx
            padded = np.pad(
                plane,
                ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
                mode="edge",
            )
            plane = padded.reshape(ph // ry, ry, pw // rx, rx).mean(axis=(1, 3))
        th = mcuy * c["v"] * 8
        tw = mcux * c["h"] * 8
        plane = np.pad(
            plane,
            ((0, th - plane.shape[0]), (0, tw - plane.shape[1])),
            mode="edge",
        )
        blocks = (
            plane.reshape(th // 8, 8, tw // 8, 8).transpose(0, 2, 1, 3) - 128.0
        )
        T = _DCT_T
        coefs = np.einsum("ij,abjk,kl->abil", T, blocks, T.T)
        q = (lq_nat if c["tq"] == 0 else cq_nat).reshape(8, 8)
        c["qcoef"] = np.round(coefs / q[None, None]).astype(np.int64)
        c["pred"] = 0
        del c["plane"]
    return comps, lq, cq, mcux, mcuy, hmax, vmax


def _encode_headers(out, comps, lq, cq, channels, width, height, sof_marker):
    """SOI + JFIF APP0 + DQT(s) + SOFn header shared by both encoders."""
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, tbl in ((0, lq), (1, cq)) if channels == 3 else ((0, lq),):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + bytes(
            int(v) for v in tbl
        )
    out += bytes([0xFF, sof_marker]) + struct.pack(
        ">HBHHB", 8 + 3 * len(comps), 8, height, width, len(comps)
    )
    for c in comps:
        out += bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]])


def encode_jpeg(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 3,
    quality: int = 90,
    subsampling: str = "4:4:4",
    restart_interval: int = 0,
) -> bytes:
    """Encode packed uint8 pixels (RGB or grayscale) as baseline JPEG.

    `subsampling` ∈ {"4:4:4", "4:2:2", "4:2:0"} sets the luma sampling
    factors (chroma is always 1x1); grayscale ignores it.  quality=100
    yields all-ones quant tables (near-lossless: roundtrip error is the
    DCT float rounding, ≤1 LSB — the property the codec tests pin)."""
    comps, lq, cq, mcux, mcuy, hmax, vmax = _prepare_encode(
        width, height, pixels, channels, quality, subsampling
    )
    out = bytearray()
    _encode_headers(out, comps, lq, cq, channels, width, height, 0xC0)
    huffs = [(0x00, K_DC_LUMA), (0x10, K_AC_LUMA)]
    if channels == 3:
        huffs += [(0x01, K_DC_CHROMA), (0x11, K_AC_CHROMA)]
    for tclass, (bits, vals) in huffs:
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals)) + bytes(
            [tclass] + bits + vals
        )
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(comps), len(comps))
    for i, c in enumerate(comps):
        tdta = 0x00 if i == 0 else 0x11
        out += bytes([c["id"], tdta])
    out += b"\x00\x3f\x00"  # Ss=0 Se=63 Ah/Al=0
    dc_luma_enc = _build_encode_table(*K_DC_LUMA)
    ac_luma_enc = _build_encode_table(*K_AC_LUMA)
    dc_chroma_enc = _build_encode_table(*K_DC_CHROMA)
    ac_chroma_enc = _build_encode_table(*K_AC_CHROMA)
    bw = _BitWriter()
    zz = ZIGZAG
    rst = 0
    for m in range(mcux * mcuy):
        if restart_interval and m > 0 and m % restart_interval == 0:
            bw.flush()
            bw.out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) & 7
            for c in comps:
                c["pred"] = 0
        my, mx = divmod(m, mcux)
        for i, c in enumerate(comps):
            dc_enc = dc_luma_enc if i == 0 else dc_chroma_enc
            ac_enc = ac_luma_enc if i == 0 else ac_chroma_enc
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    block = c["qcoef"][my * c["v"] + by, mx * c["h"] + bx]
                    coef_zz = block.reshape(64)[zz]
                    c["pred"] = _encode_coef_block(
                        bw, coef_zz, c["pred"], dc_enc, ac_enc
                    )
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# Fixture AC Huffman table for progressive scans: every symbol 0x00..0xFF
# gets a code (EOBn symbols 0x10..0xE0 are NOT in the Annex K tables), so
# the progressive encoder never has to build per-image optimal tables.
# Canonical and prefix-free: one 8-bit code + 255 nine-bit codes
# (Kraft sum 2^-8 + 255·2^-9 < 1).
_PROG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 1, 255, 0, 0, 0, 0, 0, 0, 0]
_PROG_AC_VALS = list(range(256))


class _ProgBitWriter(_BitWriter):
    """_BitWriter + the Annex G end-of-band-run bookkeeping: EOBn symbols
    count blocks whose band ended, and AC-refinement correction bits are
    BUFFERED until the next symbol (they belong after it in the stream)."""

    __slots__ = ("eobrun", "pending")

    def __init__(self) -> None:
        super().__init__()
        self.eobrun = 0
        self.pending = []  # buffered correction bits (AC refinement)

    def emit_symbol(self, enc, sym) -> None:
        code, length = enc[sym]
        self.write(code, length)

    def flush_eobrun(self, ac_enc) -> None:
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            self.emit_symbol(ac_enc, nbits << 4)
            if nbits:
                self.write(self.eobrun & ((1 << nbits) - 1), nbits)
            self.eobrun = 0
        for bit in self.pending:
            self.write(bit, 1)
        self.pending = []


def _prog_encode_dc_first(bw, comps, mcux, mcuy, al, dc_encs, dri=0):
    """Interleaved DC first scan: Huffman-coded diffs of the
    arithmetic-shifted DC coefficients (T.81 G.1.2.1)."""
    for c in comps:
        c["pred"] = 0
    rst = 0
    for m in range(mcux * mcuy):
        if dri and m > 0 and m % dri == 0:
            bw.flush()
            bw.out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) & 7
            for c in comps:
                c["pred"] = 0
        my, mx = divmod(m, mcux)
        for i, c in enumerate(comps):
            enc = dc_encs[i]
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    dc = int(c["qcoef"][my * c["v"] + by, mx * c["h"] + bx][0, 0])
                    val = dc >> al  # arithmetic shift, T.81 G.1.2.1
                    diff = val - c["pred"]
                    c["pred"] = val
                    mag = abs(diff)
                    t = mag.bit_length()
                    code, length = enc[t]
                    bw.write(code, length)
                    if t:
                        bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)


def _prog_encode_dc_refine(bw, comps, mcux, mcuy, al):
    """Interleaved DC refinement: one raw bit per block (G.1.2.1)."""
    for m in range(mcux * mcuy):
        my, mx = divmod(m, mcux)
        for c in comps:
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    dc = int(c["qcoef"][my * c["v"] + by, mx * c["h"] + bx][0, 0])
                    bw.write((dc >> al) & 1, 1)


def _prog_encode_ac_first(bw, c, ss, se, al, ac_enc):
    """Single-component AC first scan with EOB-run accumulation
    (G.1.2.2 / libjpeg encode_mcu_AC_first)."""
    zz = ZIGZAG
    for m in range(c["nbw"] * c["nbh"]):
        my, mx = divmod(m, c["nbw"])
        band = c["qcoef"][my, mx].reshape(64)[zz][ss : se + 1]
        # point transform: magnitude shift toward zero, sign kept
        vals = [
            (int(v) >> al) if v >= 0 else -((-int(v)) >> al) for v in band
        ]
        last_nz = -1
        for i, v in enumerate(vals):
            if v:
                last_nz = i
        if last_nz < 0:
            bw.eobrun += 1
            if bw.eobrun == 0x7FFF:
                bw.flush_eobrun(ac_enc)
            continue
        bw.flush_eobrun(ac_enc)
        r = 0
        for i in range(last_nz + 1):
            v = vals[i]
            if v == 0:
                r += 1
                continue
            while r > 15:
                bw.emit_symbol(ac_enc, 0xF0)  # ZRL
                r -= 16
            s = abs(v).bit_length()
            bw.emit_symbol(ac_enc, (r << 4) | s)
            bw.write(v if v >= 0 else v + (1 << s) - 1, s)
            r = 0
        if last_nz < se - ss:
            bw.eobrun += 1
            if bw.eobrun == 0x7FFF:
                bw.flush_eobrun(ac_enc)


def _prog_encode_ac_refine(bw, c, ss, se, al, ac_enc):
    """Single-component AC refinement scan (G.1.2.3 / libjpeg
    encode_mcu_AC_refine): newly-nonzero coefficients emit (run,1) + sign;
    already-nonzero ones contribute buffered correction bits that flush
    after the next emitted symbol."""
    zz = ZIGZAG
    for m in range(c["nbw"] * c["nbh"]):
        my, mx = divmod(m, c["nbw"])
        band = [int(v) for v in c["qcoef"][my, mx].reshape(64)[zz][ss : se + 1]]
        absv = [(-v if v < 0 else v) >> al for v in band]
        eob = -1  # last newly-nonzero position
        for i, a in enumerate(absv):
            if a == 1:
                eob = i
        r = 0
        local_pending = []
        for i, a in enumerate(absv):
            if a == 0:
                r += 1
                continue
            while r > 15 and i <= eob:
                bw.flush_eobrun(ac_enc)
                bw.emit_symbol(ac_enc, 0xF0)
                r -= 16
                for bit in local_pending:
                    bw.write(bit, 1)
                local_pending = []
            if a > 1:
                # history coefficient: one buffered correction bit
                local_pending.append(a & 1)
                continue
            bw.flush_eobrun(ac_enc)
            bw.emit_symbol(ac_enc, (r << 4) | 1)
            bw.write(0 if band[i] < 0 else 1, 1)
            for bit in local_pending:
                bw.write(bit, 1)
            local_pending = []
            r = 0
        if r > 0 or local_pending:
            bw.eobrun += 1
            bw.pending.extend(local_pending)
            if bw.eobrun == 0x7FFF or len(bw.pending) > 900:
                bw.flush_eobrun(ac_enc)


def encode_jpeg_progressive(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 3,
    quality: int = 90,
    subsampling: str = "4:4:4",
    restart_interval: int = 0,
) -> bytes:
    """Encode packed uint8 pixels as PROGRESSIVE (SOF2) JPEG with a
    libjpeg-style scan script — split DC (Al=1 then refine), banded AC
    firsts (1-5, 6-63 at Al=1), full-band AC refinements (Al=0).

    Runs the SAME `_prepare_encode` pipeline as `encode_jpeg`, so the
    quantised coefficients are identical and `decode_jpeg` of this output
    must equal `decode_jpeg` of the baseline output bit-for-bit — the
    oracle the progressive codec tests pin.  `restart_interval` (if set)
    applies to the DC first scan only (a DRI 0 before the AC scans turns
    it back off — conformant per B.2.4.4) to exercise the progressive
    restart path."""
    comps, lq, cq, mcux, mcuy, hmax, vmax = _prepare_encode(
        width, height, pixels, channels, quality, subsampling
    )
    for c in comps:
        # non-interleaved AC scans cover the component's own grid
        cw = -(-width * c["h"] // hmax)
        ch = -(-height * c["v"] // vmax)
        c["nbw"] = -(-cw // 8)
        c["nbh"] = -(-ch // 8)
    out = bytearray()
    _encode_headers(out, comps, lq, cq, channels, width, height, 0xC2)
    huffs = [(0x00, K_DC_LUMA), (0x10, (_PROG_AC_BITS, _PROG_AC_VALS))]
    if channels == 3:
        huffs += [(0x01, K_DC_CHROMA)]
    for tclass, (bits, vals) in huffs:
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals)) + bytes(
            [tclass] + list(bits) + list(vals)
        )
    dc_encs = [
        _build_encode_table(*(K_DC_LUMA if i == 0 else K_DC_CHROMA))
        for i in range(len(comps))
    ]
    ac_enc = _build_encode_table(_PROG_AC_BITS, _PROG_AC_VALS)

    def sos(comp_specs, ss, se, ah, al):
        out.extend(b"\xff\xda")
        out.extend(struct.pack(">HB", 6 + 2 * len(comp_specs), len(comp_specs)))
        for cid, tdta in comp_specs:
            out.extend(bytes([cid, tdta]))
        out.extend(bytes([ss, se, (ah << 4) | al]))

    def run_scan(emit, *args):
        bw = _ProgBitWriter()
        emit(bw, *args)
        bw.flush_eobrun(ac_enc)
        bw.flush()
        out.extend(bw.out)

    # scan 1: DC first, interleaved, Al=1 (+ optional restarts)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    dc_specs = [
        (c["id"], (0 if i == 0 else 1) << 4) for i, c in enumerate(comps)
    ]
    sos(dc_specs, 0, 0, 0, 1)
    run_scan(_prog_encode_dc_first, comps, mcux, mcuy, 1, dc_encs,
             restart_interval)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, 0)  # restarts off again
    # scans 2..: banded AC firsts per component at Al=1
    for c in comps:
        for band_ss, band_se in ((1, 5), (6, 63)):
            sos([(c["id"], 0x00)], band_ss, band_se, 0, 1)
            run_scan(_prog_encode_ac_first, c, band_ss, band_se, 1, ac_enc)
    # DC refinement (no Huffman table needed)
    sos(dc_specs, 0, 0, 1, 0)
    run_scan(_prog_encode_dc_refine, comps, mcux, mcuy, 0)
    # AC refinement per component over the FULL band (libjpeg-style: the
    # refinement band need not match the first-scan bands)
    for c in comps:
        sos([(c["id"], 0x00)], 1, 63, 1, 0)
        run_scan(_prog_encode_ac_refine, c, 1, 63, 0, ac_enc)
    out += b"\xff\xd9"  # EOI
    return bytes(out)
