"""Stdlib clean-room FLAC codec (decode + fixture encoder).

Implemented from the public format specification (RFC 9639 / the Xiph
"FLAC format" document) — no reference to any existing decoder. The
reference repo has no media handling at all; this completes the audio
column for the most common lossless crawl format (r5 VERDICT item 5).

Decoder coverage (the full bit-level core):
* STREAMINFO + skipped metadata blocks (padding/seektable/comments/...)
* fixed and variable blocking strategies, all block-size / sample-rate /
  sample-size header codes, UTF-8-coded frame/sample numbers
* subframes: CONSTANT, VERBATIM, FIXED orders 0-4, LPC orders 1-32
  (quantised integer predictor with signed shift), wasted-bits
* Rice residuals: method 0 (4-bit params) and 1 (5-bit), any partition
  order, escape-coded raw partitions, zigzag mapping
* stereo decorrelation: left/side, right/side, mid/side (side channel
  carries one extra bit, per spec)
* CRC-8 header and CRC-16 frame verification (polynomials 0x07 / 0x8005)

Everything is integer arithmetic per the spec, so decode is bit-exact by
construction. The encoder (`encode_flac`) produces real, spec-conformant
streams for fixtures: 16-bit, independent channels, fixed blocking, and
per-block CONSTANT / FIXED-order-2 / VERBATIM subframe choice with
single-partition Rice residuals — enough to exercise the decoder's
interesting paths while keeping every encoded value analytic.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

FLAC_MAGIC = b"fLaC"

_BLOCKSIZE_CODES = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096, 13: 8192,
    14: 16384, 15: 32768,
}
_SAMPLE_RATE_CODES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}
_SAMPLE_SIZE_CODES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}

_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def is_flac(data: bytes) -> bool:
    return len(data) >= 4 and data[:4] == FLAC_MAGIC


def crc8(data: bytes) -> int:
    """CRC-8, polynomial x^8 + x^2 + x + 1 (0x07), init 0 (spec §9.2)."""
    crc = 0
    for byte in data:
        crc ^= byte
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def crc16(data: bytes) -> int:
    """CRC-16, polynomial 0x8005, init 0 (spec §9.3)."""
    crc = 0
    for byte in data:
        crc ^= byte << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


class _BitReader:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.byte = pos
        self.bit = 0

    def read(self, n: int) -> int:
        v = 0
        while n > 0:
            if self.byte >= len(self.data):
                raise ValueError("FLAC: truncated stream")
            avail = 8 - self.bit
            take = min(n, avail)
            cur = self.data[self.byte]
            v = (v << take) | ((cur >> (avail - take)) & ((1 << take) - 1))
            self.bit += take
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
            n -= take
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.byte += 1


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_signed(self, value: int, n: int) -> None:
        self.write(value & ((1 << n) - 1), n)

    def pad_to_byte(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


def _read_utf8_number(br: _BitReader) -> int:
    """UTF-8-style extended coded number (frame/sample index, §9.1.5)."""
    first = br.read(8)
    if first < 0x80:
        return first
    n_ones = 0
    mask = 0x80
    while first & mask:
        n_ones += 1
        mask >>= 1
    if n_ones < 2 or n_ones > 7:
        raise ValueError("FLAC: invalid UTF-8 coded number")
    v = first & (0xFF >> (n_ones + 1))
    for _ in range(n_ones - 1):
        cont = br.read(8)
        if cont & 0xC0 != 0x80:
            raise ValueError("FLAC: invalid UTF-8 continuation")
        v = (v << 6) | (cont & 0x3F)
    return v


def _write_utf8_number(bw: _BitWriter, v: int) -> None:
    if v < 0x80:
        bw.write(v, 8)
        return
    # count 6-bit continuation payloads needed
    parts = []
    while True:
        parts.append(v & 0x3F)
        v >>= 6
        n = len(parts)
        # leading byte holds (6 - n) bits once n >= 1 extra bytes used
        if v < (1 << max(0, 6 - n)):
            break
    n = len(parts)
    lead_ones = n + 1
    lead = (0xFF << (8 - lead_ones)) & 0xFF
    bw.write(lead | v, 8)
    for p in reversed(parts):
        bw.write(0x80 | p, 8)


def _decode_residual(br: _BitReader, blocksize: int, order: int) -> list[int]:
    method = br.read(2)
    if method > 1:
        raise ValueError("FLAC: reserved residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = br.read(4)
    nparts = 1 << porder
    if blocksize % nparts:
        raise ValueError("FLAC: partition count does not divide block size")
    out: list[int] = []
    for part in range(nparts):
        n = blocksize // nparts - (order if part == 0 else 0)
        param = br.read(pbits)
        if param == escape:
            raw = br.read(5)
            for _ in range(n):
                out.append(br.read_signed(raw) if raw else 0)
        else:
            for _ in range(n):
                q = br.read_unary()
                u = (q << param) | br.read(param)
                out.append((u >> 1) ^ -(u & 1))
    return out


def _decode_subframe(br: _BitReader, blocksize: int, bps: int) -> list[int]:
    if br.read(1):
        raise ValueError("FLAC: subframe header padding bit set")
    ftype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.read_unary() + 1
    bps -= wasted
    if ftype == 0:  # CONSTANT
        v = br.read_signed(bps)
        samples = [v] * blocksize
    elif ftype == 1:  # VERBATIM
        samples = [br.read_signed(bps) for _ in range(blocksize)]
    elif 8 <= ftype <= 12:  # FIXED, order 0-4
        order = ftype - 8
        warm = [br.read_signed(bps) for _ in range(order)]
        resid = _decode_residual(br, blocksize, order)
        coefs = _FIXED_COEFS[order]
        samples = list(warm)
        for r in resid:
            pred = sum(c * samples[-1 - j] for j, c in enumerate(coefs))
            samples.append(r + pred)
    elif ftype >= 32:  # LPC, order 1-32
        order = ftype - 31
        warm = [br.read_signed(bps) for _ in range(order)]
        precision = br.read(4) + 1
        if precision == 16:
            raise ValueError("FLAC: invalid LPC precision code")
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("FLAC: negative LPC shift")
        coefs = [br.read_signed(precision) for _ in range(order)]
        resid = _decode_residual(br, blocksize, order)
        samples = list(warm)
        for r in resid:
            pred = sum(c * samples[-1 - j] for j, c in enumerate(coefs)) >> shift
            samples.append(r + pred)
    else:
        raise ValueError(f"FLAC: reserved subframe type {ftype}")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def decode_flac(data: bytes) -> tuple[int, int, np.ndarray]:
    """(sample_rate, channels, samples[n, channels] normalised float64 in
    [-1, 1)) — the decode_wav contract, over a real FLAC stream."""
    if not is_flac(data):
        raise ValueError("not a FLAC stream")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(data):
            raise ValueError("FLAC: truncated metadata")
        hdr = data[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        length = int.from_bytes(data[pos + 1:pos + 4], "big")
        body = data[pos + 4:pos + 4 + length]
        if btype == 0:
            if length < 34:
                raise ValueError("FLAC: short STREAMINFO")
            sr = (body[10] << 12) | (body[11] << 4) | (body[12] >> 4)
            channels = ((body[12] >> 1) & 0x7) + 1
            bps = (((body[12] & 1) << 4) | (body[13] >> 4)) + 1
            total = ((body[13] & 0x0F) << 32) | int.from_bytes(body[14:18], "big")
            streaminfo = (sr, channels, bps, total)
        pos += 4 + length
        if last:
            break
    if streaminfo is None:
        raise ValueError("FLAC: missing STREAMINFO")
    si_rate, si_channels, si_bps, si_total = streaminfo

    chans: list[list[int]] = [[] for _ in range(si_channels)]
    decoded = 0
    while pos < len(data) and (si_total == 0 or decoded < si_total):
        frame_start = pos
        br = _BitReader(data, pos)
        sync = br.read(14)
        if sync != 0x3FFE:
            raise ValueError("FLAC: lost frame sync")
        if br.read(1):
            raise ValueError("FLAC: reserved frame-header bit set")
        br.read(1)  # blocking strategy (number semantics only)
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        ss_code = br.read(3)
        if br.read(1):
            raise ValueError("FLAC: reserved frame-header bit set")
        _read_utf8_number(br)
        if bs_code == 0:
            raise ValueError("FLAC: reserved block-size code")
        elif bs_code == 6:
            blocksize = br.read(8) + 1
        elif bs_code == 7:
            blocksize = br.read(16) + 1
        else:
            blocksize = _BLOCKSIZE_CODES[bs_code]
        if sr_code == 0:
            rate = si_rate
        elif sr_code == 12:
            rate = br.read(8) * 1000
        elif sr_code == 13:
            rate = br.read(16)
        elif sr_code == 14:
            rate = br.read(16) * 10
        elif sr_code == 15:
            raise ValueError("FLAC: invalid sample-rate code")
        else:
            rate = _SAMPLE_RATE_CODES[sr_code]
        if ss_code == 0:
            bps = si_bps
        elif ss_code == 3:
            raise ValueError("FLAC: reserved sample-size code")
        else:
            bps = _SAMPLE_SIZE_CODES[ss_code]
        header_end = br.byte  # CRC-8 covers sync..here (bit-aligned)
        if br.bit:
            raise ValueError("FLAC: unaligned frame header")
        expect_crc8 = br.read(8)
        if crc8(data[frame_start:header_end]) != expect_crc8:
            raise ValueError("FLAC: frame header CRC-8 mismatch")

        if ch_code <= 7:
            nch = ch_code + 1
            subs = [
                _decode_subframe(br, blocksize, bps) for _ in range(nch)
            ]
        elif ch_code in (8, 9, 10):
            nch = 2
            extra_first = 1 if ch_code == 9 else 0
            extra_second = 1 if ch_code in (8, 10) else 0
            s0 = _decode_subframe(br, blocksize, bps + extra_first)
            s1 = _decode_subframe(br, blocksize, bps + extra_second)
            if ch_code == 8:  # left/side
                subs = [s0, [left - side for left, side in zip(s0, s1)]]
            elif ch_code == 9:  # right/side (side, right stored)
                subs = [[r + s for s, r in zip(s0, s1)], s1]
            else:  # mid/side: mid stored floor-halved, side's low bit restores
                lefts = []
                rights = []
                for m, s in zip(s0, s1):
                    mm = (m << 1) | (s & 1)
                    lefts.append((mm + s) >> 1)
                    rights.append((mm - s) >> 1)
                subs = [lefts, rights]
        else:
            raise ValueError("FLAC: reserved channel assignment")
        if nch != si_channels:
            raise ValueError("FLAC: frame channel count != STREAMINFO")
        br.align()
        expect_crc16 = br.read(16)
        if crc16(data[frame_start:br.byte - 2]) != expect_crc16:
            raise ValueError("FLAC: frame CRC-16 mismatch")
        pos = br.byte
        for c in range(nch):
            chans[c].extend(subs[c])
        decoded += blocksize

    if si_total:
        chans = [c[:si_total] for c in chans]
    arr = np.array(chans, dtype=np.float64).T
    return si_rate, si_channels, arr / float(1 << (si_bps - 1))


# ----------------------------------------------------------------- encoder


def _rice_param_for(resid: list[int]) -> int:
    """Smallest workable 4-bit Rice parameter: bit-length of the mean
    absolute zigzagged residual (the standard estimator)."""
    if not resid:
        return 0
    total = sum((abs(r) << 1) for r in resid)
    mean = total // max(1, len(resid))
    p = 0
    while (1 << p) < mean + 1 and p < 14:
        p += 1
    return p


def _encode_subframe(bw: _BitWriter, samples: list[int], bps: int) -> None:
    if all(s == samples[0] for s in samples):
        bw.write(0, 1)
        bw.write(0, 6)  # CONSTANT
        bw.write(0, 1)
        bw.write_signed(samples[0], bps)
        return
    order = 2 if len(samples) > 2 else 0
    coefs = _FIXED_COEFS[order]
    resid = [
        samples[i] - sum(c * samples[i - 1 - j] for j, c in enumerate(coefs))
        for i in range(order, len(samples))
    ]
    param = _rice_param_for(resid)
    # rice cost vs verbatim: fall back when the fixed predictor loses
    rice_bits = sum(((abs(r) << 1) - (1 if r < 0 else 0) >> param) + 1 + param for r in resid)
    if order * bps + 2 + 4 + 4 + rice_bits >= len(samples) * bps:
        bw.write(0, 1)
        bw.write(1, 6)  # VERBATIM
        bw.write(0, 1)
        for s in samples:
            bw.write_signed(s, bps)
        return
    bw.write(0, 1)
    bw.write(8 + order, 6)  # FIXED
    bw.write(0, 1)
    for s in samples[:order]:
        bw.write_signed(s, bps)
    bw.write(0, 2)  # residual method 0 (4-bit rice)
    bw.write(0, 4)  # partition order 0
    bw.write(param, 4)
    for r in resid:
        u = (r << 1) if r >= 0 else ((-r) << 1) - 1
        q = u >> param
        for _ in range(q):
            bw.write(0, 1)
        bw.write(1, 1)
        bw.write(u & ((1 << param) - 1), param)


def encode_flac(rate: int, samples: np.ndarray, blocksize: int = 4096) -> bytes:
    """Real FLAC bytes for a float signal in [-1, 1): 16-bit quantise
    (round-half-up like encode_wav), independent channels, fixed
    blocking, CONSTANT/FIXED-2/VERBATIM subframes with one Rice
    partition. Mono 1-D input is treated as one channel."""
    arr = np.asarray(samples, dtype=np.float64)
    if arr.ndim == 1:
        arr = arr[:, None]
    ints = np.floor(arr * (1 << 15) + 0.5).astype(np.int64)
    ints = np.clip(ints, -(1 << 15), (1 << 15) - 1)
    n, nch = ints.shape
    if nch > 8:
        raise ValueError("FLAC supports at most 8 channels")

    # STREAMINFO md5 is over the interleaved little-endian PCM
    md = hashlib.md5()
    md.update(
        b"".join(
            struct.pack("<h", int(ints[i, c]))
            for i in range(n)
            for c in range(nch)
        )
    )
    si = _BitWriter()
    si.write(blocksize, 16)
    si.write(blocksize, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(rate, 20)
    si.write(nch - 1, 3)
    si.write(15, 5)  # bits per sample - 1
    si.write(n, 36)
    si.pad_to_byte()
    streaminfo = si.bytes() + md.digest()

    out = bytearray(FLAC_MAGIC)
    out.append(0x80)  # last metadata block, type 0
    out += len(streaminfo).to_bytes(3, "big")
    out += streaminfo

    for fno, start in enumerate(range(0, n, blocksize)):
        block = ints[start:start + blocksize]
        bs = block.shape[0]
        bw = _BitWriter()
        bw.write(0x3FFE, 14)
        bw.write(0, 1)
        bw.write(0, 1)  # fixed blocking
        bw.write(7, 4)  # 16-bit blocksize-1 follows the header
        bw.write(0, 4)  # rate from STREAMINFO
        bw.write(nch - 1, 4)  # independent channels
        bw.write(4, 3)  # 16-bit samples
        bw.write(0, 1)
        _write_utf8_number(bw, fno)
        bw.write(bs - 1, 16)
        bw.pad_to_byte()
        header = bw.bytes()
        bw = _BitWriter()
        body = _BitWriter()
        for c in range(nch):
            _encode_subframe(body, [int(v) for v in block[:, c]], 16)
        body.pad_to_byte()
        frame = header + bytes([crc8(header)]) + body.bytes()
        frame += crc16(frame).to_bytes(2, "big")
        out += frame
    return bytes(out)


def flac_audio_decoder(data: bytes) -> tuple[int, int, list[float]]:
    """A ``decoder=`` for `extract_audio_features` over real FLAC bytes:
    (n_samples, sample_rate, 8 time-slice means of the mono mix)."""
    from ndr_import_spark.functions.wav import slice_features

    rate, _channels, samples = decode_flac(data)
    return samples.shape[0], rate, slice_features(samples)
