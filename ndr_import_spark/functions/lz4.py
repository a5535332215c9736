"""Clean-room LZ4 decoders (pure stdlib): block format + frame format.

Public specs: the LZ4 block format and LZ4 frame format descriptions
(Collet; lz4_Block_format.md / lz4_Frame_format.md, BSD-documented
public format), implemented from the spec text the same way
functions/zstd.py implements RFC 8878. XXH32 (frame header/content
checksums) is clean-room from the public xxHash spec.

Round-trips in tests/test_lz4_snappy.py run against libl z4's output via
pyarrow's codecs ('lz4' = frame, 'lz4_raw' = block) as reference
encoders. Used by sources/archive.py for `.lz4` shard expansion
(`.jsonl.lz4` corpus dumps), the same dispatch shape as `.zst`.
"""

from __future__ import annotations

import struct

__all__ = ["Lz4Error", "decompress_block", "decompress_frame", "xxh32"]


class Lz4Error(ValueError):
    pass


MAX_OUTPUT = 1 << 31  # decompression-bomb guard on decoded bytes


# --- XXH32 (public xxHash spec) -------------------------------------------

_P32_1 = 0x9E3779B1
_P32_2 = 0x85EBCA77
_P32_3 = 0xC2B2AE3D
_P32_4 = 0x27D4EB2F
_P32_5 = 0x165667B1
_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def xxh32(data: bytes) -> int:
    n = len(data)
    i = 0
    if n >= 16:
        v1 = (_P32_1 + _P32_2) & _M32
        v2 = _P32_2
        v3 = 0
        v4 = -_P32_1 & _M32
        while i + 16 <= n:
            l1, l2, l3, l4 = struct.unpack_from("<IIII", data, i)
            v1 = (_rotl32((v1 + l1 * _P32_2) & _M32, 13) * _P32_1) & _M32
            v2 = (_rotl32((v2 + l2 * _P32_2) & _M32, 13) * _P32_1) & _M32
            v3 = (_rotl32((v3 + l3 * _P32_2) & _M32, 13) * _P32_1) & _M32
            v4 = (_rotl32((v4 + l4 * _P32_2) & _M32, 13) * _P32_1) & _M32
            i += 16
        acc = (_rotl32(v1, 1) + _rotl32(v2, 7) + _rotl32(v3, 12)
               + _rotl32(v4, 18)) & _M32
    else:
        acc = _P32_5
    acc = (acc + n) & _M32
    while i + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, i)
        acc = (_rotl32((acc + lane * _P32_3) & _M32, 17) * _P32_4) & _M32
        i += 4
    while i < n:
        acc = (_rotl32((acc + data[i] * _P32_5) & _M32, 11) * _P32_1) & _M32
        i += 1
    acc ^= acc >> 15
    acc = (acc * _P32_2) & _M32
    acc ^= acc >> 13
    acc = (acc * _P32_3) & _M32
    acc ^= acc >> 16
    return acc


# --- block format ----------------------------------------------------------


def decompress_block(data: bytes) -> bytes:
    """LZ4 block: token (lit len nibble | match len nibble), 255-run
    length extensions, 2-byte LE offsets, min-match 4, last sequence is
    literals-only."""
    return _decode_sequences(data, b"", MAX_OUTPUT)


def _decode_sequences(block: bytes, history: bytes, max_output: int) -> bytes:
    """Shared block core: decode `block` against `history` (empty for
    independent blocks, the prior 64 KB for linked ones) and return only
    the newly-produced bytes. ONE implementation so the truncation and
    offset checks cannot diverge between the two modes."""
    out = bytearray(history)
    base = len(history)
    pos = 0
    n = len(block)
    try:
        while pos < n:
            token = block[pos]
            pos += 1
            lit = token >> 4
            if lit == 15:
                while True:
                    b = block[pos]
                    pos += 1
                    lit += b
                    if b != 255:
                        break
            if n - pos < lit:
                raise Lz4Error("truncated literals")
            out += block[pos:pos + lit]
            pos += lit
            if pos >= n:
                break  # last sequence has no match
            if n - pos < 2:
                raise Lz4Error("truncated match offset")
            offset = block[pos] | (block[pos + 1] << 8)
            pos += 2
            if offset == 0 or offset > len(out):
                raise Lz4Error("bad match offset")
            ml = (token & 0x0F) + 4
            if (token & 0x0F) == 15:
                while True:
                    b = block[pos]
                    pos += 1
                    ml += b
                    if b != 255:
                        break
            if len(out) - base + ml > max_output:
                raise Lz4Error("output exceeds max_output guard")
            start = len(out) - offset
            if offset >= ml:
                out += out[start:start + ml]
            else:
                for k in range(ml):  # overlapping copy
                    out.append(out[start + k])
    except IndexError as exc:
        raise Lz4Error(f"truncated block: {exc}") from exc
    return bytes(out[base:])


# --- frame format ----------------------------------------------------------

_FRAME_MAGIC = 0x184D2204
_SKIP_LO = 0x184D2A50
_SKIP_HI = 0x184D2A5F


def decompress_frame(data: bytes, max_output: int = MAX_OUTPUT) -> bytes:
    """All LZ4 frames in `data` (skippable frames skipped), with header
    and content checksums verified when present. Linked-block frames
    (B.Indep = 0) are decoded with a shared history window, matching
    the spec's 64 KB carry-over."""
    out = bytearray()
    pos = 0
    n = len(data)
    try:
        while pos < n:
            (magic,) = struct.unpack_from("<I", data, pos)
            pos += 4
            if _SKIP_LO <= magic <= _SKIP_HI:
                (sz,) = struct.unpack_from("<I", data, pos)
                pos += 4 + sz
                if pos > n:
                    raise Lz4Error("skippable frame overruns input")
                continue
            if magic != _FRAME_MAGIC:
                raise Lz4Error(f"bad LZ4 frame magic 0x{magic:08X}")
            hdr_start = pos
            flg = data[pos]
            bd = data[pos + 1]
            pos += 2
            if (flg >> 6) != 0b01:
                raise Lz4Error("unsupported LZ4 frame version")
            b_indep = bool(flg & 0x20)
            b_checksum = bool(flg & 0x10)
            c_size = bool(flg & 0x08)
            c_checksum = bool(flg & 0x04)
            dict_id = bool(flg & 0x01)
            if flg & 0x02:
                raise Lz4Error("reserved FLG bit set")
            bmax_code = (bd >> 4) & 7
            if bmax_code < 4:
                raise Lz4Error("reserved block max size code")
            content_size = None
            if c_size:
                (content_size,) = struct.unpack_from("<Q", data, pos)
                pos += 8
            if dict_id:
                raise Lz4Error("dictionary frames not supported")
            hc = data[pos]
            pos += 1
            want_hc = (xxh32(data[hdr_start:pos - 1]) >> 8) & 0xFF
            if hc != want_hc:
                raise Lz4Error("frame header checksum mismatch")

            frame_start = len(out)
            while True:
                (bsize,) = struct.unpack_from("<I", data, pos)
                pos += 4
                if bsize == 0:
                    break  # EndMark
                uncompressed = bool(bsize & 0x80000000)
                bsize &= 0x7FFFFFFF
                block = data[pos:pos + bsize]
                if len(block) < bsize:
                    raise Lz4Error("truncated block data")
                pos += bsize
                if b_checksum:
                    (bc,) = struct.unpack_from("<I", data, pos)
                    pos += 4
                    if xxh32(block) != bc:
                        raise Lz4Error("block checksum mismatch")
                if uncompressed:
                    out += block
                else:
                    # independent blocks decode against empty history;
                    # linked blocks against the frame's last 64 KB (the
                    # spec's maximum match distance) — matches never
                    # reach a previous concatenated frame
                    hist = (b"" if b_indep
                            else bytes(out[max(frame_start, len(out) - 65536):]))
                    out += _decode_sequences(block, hist, max_output)
                if len(out) > max_output:
                    # total across ALL frames in this call — concatenated
                    # frames must not multiply the bomb guard
                    raise Lz4Error("output exceeds max_output guard")
            if content_size is not None and len(out) - frame_start != content_size:
                raise Lz4Error("frame content size mismatch")
            if c_checksum:
                (cc,) = struct.unpack_from("<I", data, pos)
                pos += 4
                if xxh32(bytes(out[frame_start:])) != cc:
                    raise Lz4Error("content checksum mismatch")
    except (IndexError, struct.error) as exc:
        raise Lz4Error(f"corrupt LZ4 frame: {exc}") from exc
    return bytes(out)


