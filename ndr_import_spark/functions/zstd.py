"""Clean-room Zstandard frame decoder (RFC 8878, pure stdlib).

Why it exists: the dominant modern training-corpus distribution format
is ``.jsonl.zst`` (The Pile, RedPajama, Dolma all ship zstd-framed
shards), and parquet/WARC increasingly carry zstd too — but this
container has no zstd module, so the honest choices were an env-gate or
a clean-room decoder. Like functions/flac.py (RFC 9639) this is the
latter: every structure below is implemented from the public RFC 8878
spec text; the three predefined FSE distributions and the literals/
match-length code tables are transcribed from the RFC the same way
FLAC's fixed predictor coefficients were — normative constants, cited.

Correctness is gated by round-trip tests against libzstd's OUTPUT (via
pyarrow's zstd codec as the reference ENCODER at several levels), not
against any reference decoder's internals.

Scope (decode-only):
* frames with raw / RLE / compressed blocks, single- and multi-block
* literals: raw, RLE, Huffman (1- and 4-stream), treeless (table reuse)
* Huffman tree: direct 4-bit weights AND FSE-compressed weights
* sequences: predefined / RLE / FSE-compressed / repeat table modes,
  full repeat-offset history semantics (incl. the literals_length == 0
  shift and the rep[0]-1 special case)
* skippable frames, concatenated frames, content checksum (XXH64,
  implemented clean-room below from the public xxHash spec)
* dictionaries (RFC 8878 §5, r8): structured `ZDICT`-format blobs
  (magic 0xEC30A437 → entropy-table preload + repeat-offset init +
  content-as-history-prefix) and raw-content dictionaries; pass the
  blob via ``decompress(data, dictionary=...)``. A frame declaring a
  Dictionary_ID still raises ``ZstdError('dictionary frames not
  supported')`` when no dictionary is supplied, and raises on an ID
  mismatch — silent wrong-dict decode is worse than an error.
* honest gates: window sizes above ``max_window`` (default 64 MiB)
  raise rather than let a hostile frame balloon memory — the
  scale-safety guard a crawl ingest needs.

Spark usage: per-blob decode inside Arrow ``mapInPandas`` batches
(sources/archive.py, sources/warc.py), exactly the FLAC/ADPCM pattern —
the payload is opaque bytes, Python is justified, and batches amortise
the interpreter cost. Pure Python throughput is test-scale, not
production-scale; the docstring contract is correctness + honest gates,
with the JVM codec the production path when present.
"""

from __future__ import annotations

import struct

__all__ = [
    "ZstdDict",
    "ZstdError",
    "decompress",
    "libzstd_compress_dict",
    "xxh64",
]


class ZstdError(ValueError):
    pass


# ---------------------------------------------------------------------------
# XXH64 (clean-room from the public xxHash specification; zstd's
# Content_Checksum is the low 32 bits of XXH64(frame content, seed=0))
# ---------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def _merge(acc: int, val: int) -> int:
    return ((acc ^ _round(0, val)) * _P1 + _P4) & _M64


def xxh64(data: bytes) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (_P1 + _P2) & _M64
        v2 = _P2
        v3 = 0
        v4 = -_P1 & _M64
        while i + 32 <= n:
            l1, l2, l3, l4 = struct.unpack_from("<QQQQ", data, i)
            v1 = _round(v1, l1)
            v2 = _round(v2, l2)
            v3 = _round(v3, l3)
            v4 = _round(v4, l4)
            i += 32
        acc = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        acc = _merge(acc, v1)
        acc = _merge(acc, v2)
        acc = _merge(acc, v3)
        acc = _merge(acc, v4)
    else:
        acc = _P5
    acc = (acc + n) & _M64
    while i + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, i)
        acc = ((_rotl(acc ^ _round(0, lane), 27) * _P1) + _P4) & _M64
        i += 8
    if i + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, i)
        acc = ((_rotl(acc ^ (lane * _P1) & _M64, 23) * _P2) + _P3) & _M64
        i += 4
    while i < n:
        acc = ((_rotl(acc ^ (data[i] * _P5) & _M64, 11)) * _P1) & _M64
        i += 1
    acc ^= acc >> 33
    acc = (acc * _P2) & _M64
    acc ^= acc >> 29
    acc = (acc * _P3) & _M64
    acc ^= acc >> 32
    return acc


# ---------------------------------------------------------------------------
# bitstreams
# ---------------------------------------------------------------------------


class _BackBits:
    """RFC 8878 backward bitstream: bytes are read from the END; the
    last byte carries a 1-bit end marker above the payload bits. Reads
    past the start return zero bits (the spec's implicit padding), with
    `remaining` going negative so FSE loops can detect exhaustion."""

    __slots__ = ("val", "pos")

    def __init__(self, data: bytes):
        if not data:
            raise ZstdError("empty backward bitstream")
        last = data[-1]
        if last == 0:
            raise ZstdError("backward bitstream missing end marker")
        self.val = int.from_bytes(data, "little")
        self.pos = (len(data) - 1) * 8 + (last.bit_length() - 1)

    @property
    def remaining(self) -> int:
        return self.pos

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        self.pos -= n
        if self.pos >= 0:
            return (self.val >> self.pos) & ((1 << n) - 1)
        # zero-padded tail reads
        avail = n + self.pos
        if avail <= 0:
            return 0
        return (self.val & ((1 << avail) - 1)) << (-self.pos)

    def peek(self, n: int) -> int:
        p = self.pos - n
        if p >= 0:
            return (self.val >> p) & ((1 << n) - 1)
        avail = n + p
        if avail <= 0:
            return 0
        return (self.val & ((1 << avail) - 1)) << (-p)

    def consume(self, n: int) -> None:
        self.pos -= n


class _FwdBits:
    """Forward little-endian bitstream (FSE table descriptions only)."""

    __slots__ = ("data", "bitpos")

    def __init__(self, data: bytes):
        self.data = data
        self.bitpos = 0

    def read(self, n: int) -> int:
        out = 0
        for k in range(n):
            p = self.bitpos + k
            byte = self.data[p >> 3] if (p >> 3) < len(self.data) else 0
            out |= ((byte >> (p & 7)) & 1) << k
        self.bitpos += n
        return out

    def peek(self, n: int) -> int:
        save = self.bitpos
        v = self.read(n)
        self.bitpos = save
        return v

    def bytes_consumed(self) -> int:
        return (self.bitpos + 7) >> 3


# ---------------------------------------------------------------------------
# FSE
# ---------------------------------------------------------------------------


def _fse_read_ncount(bits: _FwdBits, max_alog: int, max_symbol: int):
    """Normalized counts from an FSE table description (RFC 8878
    §4.1.1): variable-width probability fields against the remaining
    point budget, 2-bit zero-repeat flags after a 0 probability."""
    alog = bits.read(4) + 5
    if alog > max_alog:
        raise ZstdError(f"FSE accuracy log {alog} > max {max_alog}")
    remaining = 1 << alog
    probs: list[int] = []
    while remaining > 0:
        if len(probs) > max_symbol:
            raise ZstdError("FSE table description overruns max symbol")
        # values 0..remaining+1 encodable -> remaining+2 distinct codes
        nbits = (remaining + 2 - 1).bit_length()
        cutoff = (1 << nbits) - (remaining + 2)
        low = bits.peek(nbits - 1)
        if low < cutoff:
            bits.bitpos += nbits - 1
            value = low
        else:
            value = bits.read(nbits)
            if value >= (1 << (nbits - 1)):
                value -= cutoff
        prob = value - 1
        probs.append(prob)
        remaining -= 1 if prob == -1 else prob
        if remaining < 0:
            raise ZstdError("FSE normalized counts exceed table size")
        if prob == 0:
            while True:
                rep = bits.read(2)
                probs.extend([0] * rep)
                if rep != 3:
                    break
    return alog, probs


class _FseTable:
    __slots__ = ("alog", "symbol", "nbits", "base")

    def __init__(self, alog: int, probs: list[int]):
        size = 1 << alog
        self.alog = alog
        symbol = [0] * size
        high = size - 1
        for s, p in enumerate(probs):
            if p == -1:
                symbol[high] = s
                high -= 1
        step = (size >> 1) + (size >> 3) + 3
        pos = 0
        for s, p in enumerate(probs):
            if p <= 0:
                continue
            for _ in range(p):
                symbol[pos] = s
                pos = (pos + step) & (size - 1)
                while pos > high:
                    pos = (pos + step) & (size - 1)
        if pos != 0:
            raise ZstdError("FSE table spread did not close")
        nxt = [1 if p == -1 else p for p in probs]
        nbits = [0] * size
        base = [0] * size
        for i in range(size):
            s = symbol[i]
            x = nxt[s]
            nxt[s] = x + 1
            nb = alog - (x.bit_length() - 1)
            nbits[i] = nb
            base[i] = (x << nb) - size
        self.symbol = symbol
        self.nbits = nbits
        self.base = base

    @classmethod
    def rle(cls, sym: int) -> "_FseTable":
        t = cls.__new__(cls)
        t.alog = 0
        t.symbol = [sym]
        t.nbits = [0]
        t.base = [0]
        return t


# Predefined distributions — normative constants, RFC 8878 §3.1.1.4
_LL_DEFAULT = _FseTable(6, [
    4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
    2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
    -1, -1, -1, -1,
])
_ML_DEFAULT = _FseTable(6, [
    1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1,
    -1, -1, -1, -1, -1,
])
_OF_DEFAULT = _FseTable(5, [
    1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1,
])

# Literals-length codes (RFC 8878 §3.1.1.3.2.1.1): (baseline, extra bits)
_LL_CODE = [(i, 0) for i in range(16)] + [
    (16, 1), (18, 1), (20, 1), (22, 1), (24, 2), (28, 2), (32, 3), (40, 3),
    (48, 4), (64, 6), (128, 7), (256, 8), (512, 9), (1024, 10), (2048, 11),
    (4096, 12), (8192, 13), (16384, 14), (32768, 15), (65536, 16),
]
# Match-length codes (ibid.): (baseline, extra bits)
_ML_CODE = [(i + 3, 0) for i in range(32)] + [
    (35, 1), (37, 1), (39, 1), (41, 1), (43, 2), (47, 2), (51, 3), (59, 3),
    (67, 4), (83, 4), (99, 5), (131, 7), (259, 8), (515, 9), (1027, 10),
    (2051, 11), (4099, 12), (8195, 13), (16387, 14), (32771, 15), (65539, 16),
]

_MAX_ALOG = {"ll": 9, "of": 8, "ml": 9}
_MAX_SYM = {"ll": 35, "of": 31, "ml": 52}


# ---------------------------------------------------------------------------
# Huffman literals
# ---------------------------------------------------------------------------


class _HufTable:
    __slots__ = ("tlog", "sym", "nbits")

    def __init__(self, weights: list[int]):
        # infer last weight: totals must close a power of two
        total = sum((1 << (w - 1)) for w in weights if w > 0)
        if total == 0:
            raise ZstdError("Huffman weights empty")
        tlog = total.bit_length()  # smallest p with 2^p > total
        last = (1 << tlog) - total
        lw = last.bit_length()
        if (1 << (lw - 1)) != last:
            raise ZstdError("Huffman weights do not close a power of two")
        weights = weights + [lw]
        if tlog > 11:
            raise ZstdError(f"Huffman table log {tlog} > 11")
        size = 1 << tlog
        sym = bytearray(size)
        nb = bytearray(size)
        pos = 0
        # canonical fill: ascending weight, then symbol order (§4.2.1)
        for w in range(1, tlog + 1):
            run = 1 << (w - 1)
            bits_w = tlog + 1 - w
            for s, ws in enumerate(weights):
                if ws != w:
                    continue
                sym[pos:pos + run] = bytes([s]) * run
                nb[pos:pos + run] = bytes([bits_w]) * run
                pos += run
        if pos != size:
            raise ZstdError("Huffman table fill mismatch")
        self.tlog = tlog
        self.sym = bytes(sym)
        self.nbits = bytes(nb)

    def decode_stream(self, data: bytes, n_out: int) -> bytearray:
        br = _BackBits(data)
        out = bytearray(n_out)
        tlog = self.tlog
        sym = self.sym
        nbits = self.nbits
        for i in range(n_out):
            v = br.peek(tlog)
            out[i] = sym[v]
            br.consume(nbits[v])
        if br.remaining < 0:
            raise ZstdError("Huffman stream over-read")
        return out


def _read_huf_weights(data: bytes):
    """Huffman tree description (§4.2.1.1): header byte < 128 means the
    weights themselves are FSE-compressed (two interleaved states,
    alternating, flushed when the backward stream runs dry); >= 128
    means direct 4-bit weights for (header - 127) symbols."""
    hb = data[0]
    if hb >= 128:
        n = hb - 127
        nbytes = (n + 1) // 2
        raw = data[1:1 + nbytes]
        if len(raw) < nbytes:
            raise ZstdError("truncated direct Huffman weights")
        weights = []
        for i in range(n):
            b = raw[i >> 1]
            weights.append((b >> 4) if i % 2 == 0 else (b & 0x0F))
        return weights, 1 + nbytes
    csize = hb
    comp = data[1:1 + csize]
    if len(comp) < csize:
        raise ZstdError("truncated FSE Huffman weights")
    fwd = _FwdBits(comp)
    alog, probs = _fse_read_ncount(fwd, 6, 255)
    table = _FseTable(alog, probs)
    br = _BackBits(comp[fwd.bytes_consumed():])
    weights: list[int] = []
    s1 = br.read(alog)
    s2 = br.read(alog)
    while True:
        weights.append(table.symbol[s1])
        if br.remaining < table.nbits[s1]:
            weights.append(table.symbol[s2])
            break
        s1 = table.base[s1] + br.read(table.nbits[s1])
        weights.append(table.symbol[s2])
        if br.remaining < table.nbits[s2]:
            weights.append(table.symbol[s1])
            break
        s2 = table.base[s2] + br.read(table.nbits[s2])
        if len(weights) > 255:
            raise ZstdError("runaway Huffman weight stream")
    if len(weights) > 255:
        # 256 symbols max and the LAST weight is implied, so more than
        # 255 explicit weights cannot close a valid table; without this
        # a crafted stream would push symbol 256 into the table fill and
        # escape as a plain ValueError instead of ZstdError
        raise ZstdError("too many explicit Huffman weights")
    return weights, 1 + csize


# ---------------------------------------------------------------------------
# block decode
# ---------------------------------------------------------------------------


class _FrameState:
    __slots__ = ("huf", "ll", "of", "ml", "rep")

    def __init__(self):
        self.huf: _HufTable | None = None
        self.ll: _FseTable | None = None
        self.of: _FseTable | None = None
        self.ml: _FseTable | None = None
        self.rep = [1, 4, 8]


_DICT_MAGIC = 0xEC30A437


class ZstdDict:
    """Parsed zstd dictionary (RFC 8878 §5).

    Two accepted shapes, mirroring libzstd:
    * structured (`ZDICT`) blobs — magic 0xEC30A437, Dictionary_ID,
      entropy tables in the §5 order (Huffman for literals, then FSE for
      offsets, match lengths, literals lengths — the same descriptions
      compressed blocks carry), three 4-byte little-endian repeat
      offsets replacing the {1,4,8} defaults, then raw content;
    * raw-content blobs — no magic, the entire blob is history, entropy
      state starts from the frame like a dictionary-less decode.

    The content becomes a virtual history prefix: first-block matches may
    reach back into it, which is the whole point of small-shard
    dictionary compression.
    """

    __slots__ = ("dict_id", "huf", "ll", "of", "ml", "rep", "content")

    def __init__(self, blob: bytes):
        blob = bytes(blob)
        if len(blob) >= 8 and struct.unpack_from("<I", blob, 0)[0] == _DICT_MAGIC:
            (self.dict_id,) = struct.unpack_from("<I", blob, 4)
            pos = 8
            try:
                weights, consumed = _read_huf_weights(blob[pos:])
                self.huf = _HufTable(weights)
                pos += consumed
                tables: dict[str, _FseTable] = {}
                # §5 entropy-table order: offsets, match lengths,
                # literals lengths (after the literals Huffman table)
                for kind in ("of", "ml", "ll"):
                    fwd = _FwdBits(blob[pos:])
                    alog, probs = _fse_read_ncount(
                        fwd, _MAX_ALOG[kind], _MAX_SYM[kind]
                    )
                    tables[kind] = _FseTable(alog, probs)
                    pos += fwd.bytes_consumed()
            except (IndexError, struct.error) as exc:
                raise ZstdError(f"corrupt dictionary entropy tables: {exc}") from exc
            self.of, self.ml, self.ll = tables["of"], tables["ml"], tables["ll"]
            if len(blob) - pos < 12:
                raise ZstdError("truncated dictionary repeat offsets")
            self.rep = list(struct.unpack_from("<III", blob, pos))
            pos += 12
            self.content = blob[pos:]
            for r in self.rep:
                if r == 0 or r > len(self.content):
                    raise ZstdError("dictionary repeat offset out of range")
        else:
            self.dict_id = 0
            self.huf = None
            self.ll = self.of = self.ml = None
            self.rep = [1, 4, 8]
            self.content = blob


def _decode_literals(block: bytes, st: _FrameState):
    """Literals section (§3.1.1.3.1): returns (literals, bytes consumed)."""
    b0 = block[0]
    ltype = b0 & 3
    sformat = (b0 >> 2) & 3

    if ltype in (0, 1):  # Raw / RLE
        if sformat in (0, 2):
            rs = b0 >> 3
            hsz = 1
        elif sformat == 1:
            rs = (b0 >> 4) + (block[1] << 4)
            hsz = 2
        else:
            rs = (b0 >> 4) + (block[1] << 4) + (block[2] << 12)
            hsz = 3
        if ltype == 0:
            lits = bytes(block[hsz:hsz + rs])
            if len(lits) < rs:
                raise ZstdError("truncated raw literals")
            return lits, hsz + rs
        return bytes([block[hsz]]) * rs, hsz + 1

    # Compressed (2) / Treeless (3)
    if sformat == 0:
        hsz, szbits, streams = 3, 10, 1
    elif sformat == 1:
        hsz, szbits, streams = 3, 10, 4
    elif sformat == 2:
        hsz, szbits, streams = 4, 14, 4
    else:
        hsz, szbits, streams = 5, 18, 4
    hval = int.from_bytes(block[:hsz], "little")
    rs = (hval >> 4) & ((1 << szbits) - 1)
    cs = (hval >> (4 + szbits)) & ((1 << szbits) - 1)
    body = block[hsz:hsz + cs]
    if len(body) < cs:
        raise ZstdError("truncated compressed literals")
    off = 0
    if ltype == 2:
        weights, consumed = _read_huf_weights(body)
        st.huf = _HufTable(weights)
        off = consumed
    if st.huf is None:
        raise ZstdError("treeless literals with no previous Huffman table")
    huf = st.huf
    payload = body[off:]
    if streams == 1:
        lits = huf.decode_stream(payload, rs)
    else:
        if len(payload) < 6:
            raise ZstdError("truncated 4-stream jump table")
        s1, s2, s3 = struct.unpack_from("<HHH", payload, 0)
        p = payload[6:]
        if s1 + s2 + s3 > len(p):
            raise ZstdError("4-stream sizes exceed section")
        part = (rs + 3) // 4
        chunks = (p[:s1], p[s1:s1 + s2], p[s1 + s2:s1 + s2 + s3],
                  p[s1 + s2 + s3:])
        sizes = (part, part, part, rs - 3 * part)
        if sizes[3] < 0:
            raise ZstdError("regenerated size smaller than 3 stream parts")
        lits = bytearray()
        for chunk, n in zip(chunks, sizes):
            lits += huf.decode_stream(chunk, n)
    return bytes(lits), hsz + cs


def _seq_table(mode: int, kind: str, fwd_data: bytes, pos: int,
               st: _FrameState):
    """One of the three sequence decoding tables (§3.1.1.3.2.1)."""
    cur = {"ll": st.ll, "of": st.of, "ml": st.ml}
    dflt = {"ll": _LL_DEFAULT, "of": _OF_DEFAULT, "ml": _ML_DEFAULT}
    if mode == 0:
        return dflt[kind], pos
    if mode == 1:
        sym = fwd_data[pos]
        if sym > _MAX_SYM[kind]:
            raise ZstdError(f"RLE symbol {sym} out of range for {kind}")
        return _FseTable.rle(sym), pos + 1
    if mode == 2:
        fwd = _FwdBits(fwd_data[pos:])
        alog, probs = _fse_read_ncount(fwd, _MAX_ALOG[kind], _MAX_SYM[kind])
        return _FseTable(alog, probs), pos + fwd.bytes_consumed()
    prev = cur[kind]
    if prev is None:
        raise ZstdError(f"repeat mode for {kind} with no previous table")
    return prev, pos


def _decode_block(block: bytes, st: _FrameState, out: bytearray,
                  window: int, frame_start: int, prefix: bytes = b"") -> None:
    lits, pos = _decode_literals(block, st)

    # Sequences section header (§3.1.1.3.2)
    if pos >= len(block):
        raise ZstdError("missing sequences section")
    b0 = block[pos]
    if b0 == 0:
        nseq = 0
        pos += 1
    elif b0 < 128:
        nseq = b0
        pos += 1
    elif b0 < 255:
        nseq = ((b0 - 128) << 8) + block[pos + 1]
        pos += 2
    else:
        nseq = block[pos + 1] + (block[pos + 2] << 8) + 0x7F00
        pos += 3
    if nseq == 0:
        out += lits
        return

    scm = block[pos]
    pos += 1
    if scm & 3:
        raise ZstdError("reserved sequence-compression-mode bits set")
    ll_t, pos = _seq_table((scm >> 6) & 3, "ll", block, pos, st)
    of_t, pos = _seq_table((scm >> 4) & 3, "of", block, pos, st)
    ml_t, pos = _seq_table((scm >> 2) & 3, "ml", block, pos, st)
    st.ll, st.of, st.ml = ll_t, of_t, ml_t

    br = _BackBits(block[pos:])
    ll_s = br.read(ll_t.alog)
    of_s = br.read(of_t.alog)
    ml_s = br.read(ml_t.alog)
    rep = st.rep
    lit_pos = 0
    for i in range(nseq):
        of_code = of_t.symbol[of_s]
        if of_code > 31:
            raise ZstdError("offset code out of range")
        of_val = (1 << of_code) + br.read(of_code)
        ml_base, ml_bits = _ML_CODE[ml_t.symbol[ml_s]]
        ml = ml_base + br.read(ml_bits)
        ll_base, ll_bits = _LL_CODE[ll_t.symbol[ll_s]]
        ll = ll_base + br.read(ll_bits)

        # repeat-offset history (§3.1.1.5)
        if of_val > 3:
            offset = of_val - 3
            rep[2] = rep[1]
            rep[1] = rep[0]
            rep[0] = offset
        else:
            idx = of_val - 1 if ll != 0 else of_val
            if idx == 0:
                offset = rep[0]
            elif idx == 1:
                offset = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
            elif idx == 2:
                offset = rep[2]
                rep[2] = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
            else:  # ll == 0 and of_val == 3
                offset = rep[0] - 1
                if offset == 0:
                    raise ZstdError("repeat offset underflow")
                rep[2] = rep[1]
                rep[1] = rep[0]
                rep[0] = offset

        out += lits[lit_pos:lit_pos + ll]
        lit_pos += ll
        hist = len(out) - frame_start
        # frame-LOCAL history (plus the dictionary content prefix when
        # one is in play): RFC 8878 matches may not reach into a
        # previous concatenated frame's output. While hist < window the
        # bound extends by the prefix length — a single-segment frame's
        # window equals its content size, yet its matches may reach
        # anywhere in the dictionary (observed libzstd behaviour). Once
        # hist >= window the dictionary is no longer reachable, so the
        # bound tightens to the plain window (r8 advice: without this, a
        # hostile frame could reference window+dict_len deep for the
        # whole frame, laxer than the dictionary-less path).
        limit = window if hist >= window else window + len(prefix)
        if offset > hist + len(prefix) or offset > limit:
            raise ZstdError("match offset beyond decoded history")
        if offset <= hist:
            if offset >= ml:
                start = len(out) - offset
                out += out[start:start + ml]
            else:
                start = len(out) - offset
                for k in range(ml):  # overlapping copy
                    out.append(out[start + k])
        else:
            # match starts inside the dictionary content: positions
            # before frame_start map to the tail of `prefix`
            src = hist - offset  # negative = index back from prefix end
            plen = len(prefix)
            if src + ml <= 0:
                out += prefix[plen + src:plen + src + ml]
            else:
                for k in range(ml):
                    p = src + k
                    if p < 0:
                        out.append(prefix[plen + p])
                    else:
                        out.append(out[frame_start + p])

        if i < nseq - 1:
            ll_s = ll_t.base[ll_s] + br.read(ll_t.nbits[ll_s])
            ml_s = ml_t.base[ml_s] + br.read(ml_t.nbits[ml_s])
            of_s = of_t.base[of_s] + br.read(of_t.nbits[of_s])
    if br.remaining < 0:
        raise ZstdError("sequence bitstream over-read")
    out += lits[lit_pos:]


# ---------------------------------------------------------------------------
# frame decode
# ---------------------------------------------------------------------------

_MAGIC = 0xFD2FB528
_SKIP_LO = 0x184D2A50
_SKIP_HI = 0x184D2A5F


def decompress(data: bytes, max_output: int = 1 << 31,
               max_window: int = 64 << 20,
               dictionary: "bytes | ZstdDict | None" = None) -> bytes:
    """Decode all zstd frames in `data` (skippable frames skipped),
    concatenating their content — the `.jsonl.zst` shard shape.

    `dictionary` accepts a raw blob (ZDICT-format or raw content) or a
    pre-parsed ZstdDict — parse once when decoding many shards against
    the same dictionary."""
    if dictionary is not None and not isinstance(dictionary, ZstdDict):
        dictionary = ZstdDict(dictionary)
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        if n - pos < 4:
            raise ZstdError("truncated frame magic")
        (magic,) = struct.unpack_from("<I", data, pos)
        pos += 4
        if _SKIP_LO <= magic <= _SKIP_HI:
            if n - pos < 4:
                raise ZstdError("truncated skippable frame size")
            (sz,) = struct.unpack_from("<I", data, pos)
            pos += 4 + sz
            if pos > n:
                raise ZstdError("skippable frame overruns input")
            continue
        if magic != _MAGIC:
            raise ZstdError(f"bad zstd magic 0x{magic:08X}")
        try:
            pos = _decode_frame(data, pos, out, max_output, max_window,
                                dictionary)
        except (IndexError, struct.error) as exc:
            # corrupt/truncated input must surface as ZstdError, never a
            # raw container exception — ingest error channels key on it
            raise ZstdError(f"corrupt zstd frame: {exc}") from exc
    return bytes(out)


def _decode_frame(data: bytes, pos: int, out: bytearray,
                  max_output: int, max_window: int,
                  dictionary: ZstdDict | None = None) -> int:
    fhd = data[pos]
    pos += 1
    if fhd & 0x08:
        raise ZstdError("reserved frame-header bit set")
    single = bool(fhd & 0x20)
    checksum = bool(fhd & 0x04)
    did_flag = fhd & 3
    fcs_flag = fhd >> 6

    if not single:
        wd = data[pos]
        pos += 1
        wbase = 1 << (10 + (wd >> 3))
        window = wbase + (wbase >> 3) * (wd & 7)
    else:
        window = None  # set from FCS below

    did_len = (0, 1, 2, 4)[did_flag]
    if did_len:
        did = int.from_bytes(data[pos:pos + did_len], "little")
        pos += did_len
        if did != 0:
            if dictionary is None:
                raise ZstdError("dictionary frames not supported")
            # a raw-content dictionary carries no ID (0) and may serve
            # any frame; a structured dictionary must match exactly —
            # decoding against the wrong dictionary yields garbage that
            # only the (optional) checksum would catch
            if dictionary.dict_id not in (0, did):
                raise ZstdError(
                    f"dictionary ID mismatch: frame wants {did}, "
                    f"dictionary is {dictionary.dict_id}"
                )

    fcs_len = (1 if single else 0, 2, 4, 8)[fcs_flag]
    fcs = None
    if fcs_len:
        fcs = int.from_bytes(data[pos:pos + fcs_len], "little")
        if fcs_len == 2:
            fcs += 256
        pos += fcs_len
    if single:
        if fcs is None:
            raise ZstdError("single-segment frame without content size")
        window = fcs
    if window > max_window:
        raise ZstdError(f"window size {window} exceeds guard {max_window}")

    st = _FrameState()
    prefix = b""
    if dictionary is not None:
        # §5: entropy tables preload the "repeat"/treeless modes, the
        # recent-offsets triple replaces {1,4,8}, and the content is
        # history the first blocks may match into
        st.huf = dictionary.huf
        st.ll, st.of, st.ml = dictionary.ll, dictionary.of, dictionary.ml
        st.rep = list(dictionary.rep)
        prefix = dictionary.content
    frame_start = len(out)
    block_max = min(window if window > 0 else 1, 128 << 10)
    while True:
        if len(data) - pos < 3:
            raise ZstdError("truncated block header")
        bh = int.from_bytes(data[pos:pos + 3], "little")
        pos += 3
        last = bh & 1
        btype = (bh >> 1) & 3
        bsize = bh >> 3
        # Block_Maximum_Size (RFC 8878 §3.1.1.2.3) bounds EVERY block's
        # Block_Size, not just compressed ones: raw blocks carry content
        # directly and RLE blocks regenerate bsize bytes, so both must
        # respect min(window, 128 KiB) for strict conformance
        if btype in (0, 1) and bsize > block_max:
            raise ZstdError("block exceeds block size limit")
        if btype == 0:
            if len(data) - pos < bsize:
                raise ZstdError("truncated raw block")
            out += data[pos:pos + bsize]
            pos += bsize
        elif btype == 1:
            if len(data) - pos < 1:
                raise ZstdError("truncated RLE block")
            out += bytes([data[pos]]) * bsize
            pos += 1
        elif btype == 2:
            if bsize > block_max:
                raise ZstdError("compressed block exceeds block size limit")
            block = data[pos:pos + bsize]
            if len(block) < bsize:
                raise ZstdError("truncated compressed block")
            pos += bsize
            _decode_block(block, st, out, window, frame_start, prefix)
        else:
            raise ZstdError("reserved block type")
        if len(out) > max_output:
            # total across ALL frames in this call — N concatenated
            # frames must not multiply the bound
            raise ZstdError("decoded output exceeds max_output guard")
        if last:
            break
    if fcs is not None and len(out) - frame_start != fcs:
        raise ZstdError(
            f"frame content size mismatch: header {fcs}, "
            f"decoded {len(out) - frame_start}"
        )
    if checksum:
        if len(data) - pos < 4:
            raise ZstdError("truncated content checksum")
        (want,) = struct.unpack_from("<I", data, pos)
        pos += 4
        got = xxh64(bytes(out[frame_start:])) & 0xFFFFFFFF
        if got != want:
            raise ZstdError("content checksum mismatch")
    return pos


# ---------------------------------------------------------------------------
# system-libzstd dictionary COMPRESSION helper (test/bench fixture side)
# ---------------------------------------------------------------------------
# The clean-room code above only DECODES. Queries that round-trip through
# dictionary frames (q_zstd_roundtrip / q_zstd_dict_train) need a reference
# ENCODER for the fixture side; pyarrow's Codec has no dictionary API, so
# that path goes through libzstd via ctypes. r8 advice: every compress
# return must be checked with ZSTD_isError (an error code is a huge size_t
# that would otherwise be used as a slice length and surface as a confusing
# downstream ZstdError), and hosts without libzstd.so.1 must degrade
# gracefully instead of failing the whole query.

_LIBZSTD = None  # (lib, cctx) once loaded; False = load failed


def _load_libzstd():
    global _LIBZSTD
    if _LIBZSTD is None:
        import ctypes

        try:
            lib = ctypes.CDLL("libzstd.so.1")
            szt, vp, cp = ctypes.c_size_t, ctypes.c_void_p, ctypes.c_char_p
            lib.ZSTD_compressBound.restype = szt
            lib.ZSTD_compressBound.argtypes = [szt]
            lib.ZSTD_createCCtx.restype = vp
            lib.ZSTD_compress_usingDict.restype = szt
            lib.ZSTD_compress_usingDict.argtypes = [
                vp, vp, szt, cp, szt, cp, szt, ctypes.c_int,
            ]
            lib.ZSTD_isError.restype = ctypes.c_uint
            lib.ZSTD_isError.argtypes = [szt]
            lib.ZSTD_getErrorName.restype = ctypes.c_char_p
            lib.ZSTD_getErrorName.argtypes = [szt]
            _LIBZSTD = (lib, ctypes.c_void_p(lib.ZSTD_createCCtx()))
        except OSError:
            _LIBZSTD = False
    return _LIBZSTD


def libzstd_compress_dict(payload: bytes, dictionary: bytes,
                          level: int = 19) -> bytes:
    """Compress `payload` against a raw-content `dictionary` with the
    SYSTEM libzstd (reference encoder for dictionary-frame round-trip
    tests). Raises ZstdError with libzstd's own error name on a
    compressor failure.

    Fallback: when libzstd.so.1 is absent, compresses WITHOUT the
    dictionary via pyarrow (always present in this environment). The
    resulting frame is still valid input to decompress(dictionary=...)
    — the unused history prefix is harmless — so round-trip queries
    keep working; they just stop exercising dictionary matches on such
    hosts. The test suite pins the real dictionary path wherever
    libzstd exists.
    """
    loaded = _load_libzstd()
    if not loaded:
        import pyarrow as pa

        return pa.Codec("zstd", compression_level=level).compress(
            payload, asbytes=True
        )
    import ctypes

    lib, cctx = loaded
    bound = lib.ZSTD_compressBound(len(payload))
    dst = ctypes.create_string_buffer(bound)
    n = lib.ZSTD_compress_usingDict(
        cctx, ctypes.cast(dst, ctypes.c_void_p), bound,
        payload, len(payload), dictionary, len(dictionary), level,
    )
    if lib.ZSTD_isError(n):
        name = lib.ZSTD_getErrorName(n)
        raise ZstdError(
            "libzstd ZSTD_compress_usingDict failed: "
            + (name.decode("ascii", "replace") if name else str(n))
        )
    return dst.raw[:n]
