"""Stdlib+numpy WAV/PCM audio codec — clean-room from the PUBLIC RIFF/WAVE
container layout (Microsoft/IBM Multimedia Programming Interface spec;
format tags per RFC 2361).

Scope — the profile that covers the overwhelming majority of raw-audio
corpus payloads:

* decode: RIFF/WAVE with PCM (format 1: unsigned 8-bit, signed 16/24/32-bit
  little-endian), IEEE float (format 3: float32/float64), and the G.711
  telephony companders (format 6: A-law, format 7: µ-law — ITU-T G.711
  segment/mantissa expansion via 256-entry tables) sample frames, any
  channel count, chunk-walking that skips unknown chunks (LIST/fact/
  cue…) and tolerates the common off-spec RIFF size. WAVE_FORMAT_EXTENSIBLE
  (0xFFFE) resolves through its SubFormat GUID to any of those. IMA ADPCM
  (0x11) and MS ADPCM (0x02) dispatch to the exact-integer block decoders
  in functions/adpcm.py. Remaining compressed formats (MP3-in-WAV, GSM…)
  raise `WavError` — an honest unsupported-profile signal, not silent
  noise.
* encode: PCM 8/16-bit and float32 writer for fixtures and roundtrips,
  plus a RIFF wrapper for raw pre-companded G.711 byte streams.

Samples normalise to float64 in [-1, 1):  u8 → (s-128)/128, s16 → s/2^15,
s24 → s/2^23, s32 → s/2^31, float passes through. All sample math is
vectorised numpy; the chunk walk is a handful of header reads per payload.

The feature contract (`wav_audio_decoder`) mirrors the image codecs'
grid-features: 8 contiguous time-slice means over the mono mix —
deterministic, library-free, and reproducible by a SQL oracle for analytic
waveforms (constant / step / interleaved-constant payloads).

No counterpart in the reference (`publichealthengland/ndr_import` has no
audio handling); this backs the north-star multimodal operators in
operators/multimodal.py.
"""

from __future__ import annotations

import struct

import numpy as np


class WavError(ValueError):
    pass


def is_wav(data: bytes) -> bool:
    return (
        len(data) >= 12
        and data[:4] == b"RIFF"
        and data[8:12] == b"WAVE"
    )


# WAVE_FORMAT_EXTENSIBLE SubFormat GUID prefix: first 2 bytes are the wrapped
# format tag, the remaining 14 are the fixed media-subtype suffix
_KSDATAFORMAT_SUFFIX = bytes.fromhex("000000001000800000aa00389b71")

_PCM = 1
_MS_ADPCM = 2
_IEEE_FLOAT = 3
_ALAW = 6
_MULAW = 7
_IMA_ADPCM = 0x11
_EXTENSIBLE = 0xFFFE


def _g711_tables() -> tuple[np.ndarray, np.ndarray]:
    """(µ-law, A-law) 256-entry expansion tables, linear int16 values —
    clean-room from the ITU-T G.711 segment/mantissa layout (the classic
    BIAS=0x84 / XOR-0x55 forms)."""
    mu = np.empty(256, dtype=np.int16)
    for byte in range(256):
        u = ~byte & 0xFF
        t = ((u & 0x0F) << 3) + 0x84
        t <<= (u & 0x70) >> 4
        mu[byte] = (0x84 - t) if (u & 0x80) else (t - 0x84)
    al = np.empty(256, dtype=np.int16)
    for byte in range(256):
        a = byte ^ 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        al[byte] = t if (a & 0x80) else -t
    return mu, al


_MULAW_TABLE, _ALAW_TABLE = _g711_tables()


def decode_wav(data: bytes) -> tuple[int, int, np.ndarray]:
    """Decode RIFF/WAVE bytes → (sample_rate, channels, samples).

    `samples` is float64 shaped (n_frames, channels), normalised to
    [-1, 1).  Truncated or compressed payloads raise WavError."""
    if not is_wav(data):
        raise WavError("not a WAV (missing RIFF/WAVE header)")
    pos = 12
    n = len(data)
    fmt = None
    raw = None
    while pos + 8 <= n:
        cid = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise WavError("truncated fmt chunk")
            tag, channels, rate, _brate, balign, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if tag == _EXTENSIBLE:
                if len(body) < 40:
                    raise WavError("truncated WAVE_FORMAT_EXTENSIBLE fmt chunk")
                sub = body[24:40]
                if sub[2:] != _KSDATAFORMAT_SUFFIX:
                    raise WavError("unknown WAVE_FORMAT_EXTENSIBLE SubFormat")
                tag = struct.unpack("<H", sub[:2])[0]
            if tag not in (
                _PCM, _IEEE_FLOAT, _ALAW, _MULAW, _MS_ADPCM, _IMA_ADPCM
            ):
                raise WavError(
                    f"unsupported WAV format tag {tag} (PCM, IEEE float, "
                    "G.711 and IMA/MS ADPCM only; other compressed WAV "
                    "needs an injected decoder)"
                )
            fmt = (tag, channels, rate, bits, balign, bytes(body))
        elif cid == b"data":
            if len(body) < size:
                raise WavError("truncated data chunk")
            raw = body
            # keep walking: a fmt chunk after data is off-spec but harmless
        # all other chunks (LIST, fact, cue , bext…) skip; chunks are
        # word-aligned — odd sizes carry a pad byte
        pos += 8 + size + (size & 1)
    if fmt is None:
        raise WavError("missing fmt chunk")
    if raw is None:
        raise WavError("missing data chunk")
    tag, channels, rate, bits, balign, fmt_body = fmt
    if channels < 1:
        raise WavError("invalid channel count")
    if tag in (_MS_ADPCM, _IMA_ADPCM):
        # compressed-WAV profiles: exact integer recurrences in
        # functions/adpcm.py; the frame shape comes from block_align
        from ndr_import_spark.functions import adpcm

        if balign < 1:
            raise WavError("ADPCM needs a positive block alignment")
        try:
            if tag == _IMA_ADPCM:
                samples = adpcm.decode_ima(raw, channels, balign)
            else:
                coeffs = None
                if len(fmt_body) >= 22:
                    (ncoef,) = struct.unpack("<H", fmt_body[20:22])
                    need = 22 + 4 * ncoef
                    if ncoef and len(fmt_body) >= need:
                        flat = struct.unpack(
                            f"<{2 * ncoef}h", fmt_body[22:need]
                        )
                        coeffs = np.array(flat, np.int32).reshape(-1, 2)
                samples = adpcm.decode_ms(raw, channels, balign, coeffs)
        except adpcm.AdpcmError as exc:
            raise WavError(str(exc)) from exc
        return rate, channels, samples
    if tag == _PCM:
        if bits == 8:
            samples = (
                np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0
            ) / 128.0
        elif bits == 16:
            samples = np.frombuffer(raw[: len(raw) & ~1], dtype="<i2").astype(
                np.float64
            ) / 32768.0
        elif bits == 24:
            b = np.frombuffer(raw[: len(raw) - len(raw) % 3], dtype=np.uint8)
            b = b.reshape(-1, 3).astype(np.int64)
            v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
            v = np.where(v >= 1 << 23, v - (1 << 24), v)
            samples = v.astype(np.float64) / float(1 << 23)
        elif bits == 32:
            samples = np.frombuffer(raw[: len(raw) & ~3], dtype="<i4").astype(
                np.float64
            ) / float(1 << 31)
        else:
            raise WavError(f"unsupported PCM bit depth {bits}")
    elif tag == _MULAW:
        if bits not in (0, 8):
            raise WavError(f"bad µ-law bit depth {bits}")
        samples = (
            _MULAW_TABLE[np.frombuffer(raw, dtype=np.uint8)].astype(np.float64)
            / 32768.0
        )
    elif tag == _ALAW:
        if bits not in (0, 8):
            raise WavError(f"bad A-law bit depth {bits}")
        samples = (
            _ALAW_TABLE[np.frombuffer(raw, dtype=np.uint8)].astype(np.float64)
            / 32768.0
        )
    else:  # IEEE float
        if bits == 32:
            samples = np.frombuffer(raw[: len(raw) & ~3], dtype="<f4").astype(
                np.float64
            )
        elif bits == 64:
            samples = np.frombuffer(raw[: len(raw) & ~7], dtype="<f8").astype(
                np.float64
            )
        else:
            raise WavError(f"unsupported float bit depth {bits}")
    frames = samples.size // channels
    if frames == 0:
        raise WavError("empty data chunk")
    return rate, channels, samples[: frames * channels].reshape(frames, channels)


def encode_wav(
    sample_rate: int,
    samples: np.ndarray,
    bits: int = 16,
    float_format: bool = False,
) -> bytes:
    """Encode (n_frames, channels) float64 samples in [-1, 1) as WAV —
    fixtures and roundtrip tests. bits ∈ {8, 16} for PCM; float_format
    writes IEEE float32."""
    arr = np.asarray(samples, dtype=np.float64)
    if arr.ndim == 1:
        arr = arr[:, None]
    channels = arr.shape[1]
    if float_format:
        raw = arr.astype("<f4").tobytes()
        bits, tag = 32, _IEEE_FLOAT
    elif bits == 8:
        raw = (
            np.clip(np.round(arr * 128.0 + 128.0), 0, 255)
            .astype(np.uint8)
            .tobytes()
        )
        tag = _PCM
    elif bits == 16:
        raw = (
            np.clip(np.round(arr * 32768.0), -32768, 32767)
            .astype("<i2")
            .tobytes()
        )
        tag = _PCM
    else:
        raise WavError("encode_wav writes 8/16-bit PCM or float32")
    balign = channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", tag, channels, sample_rate, sample_rate * balign, balign, bits
    )
    return _riff_wrap(fmt, raw)


def _riff_wrap(fmt: bytes, raw: bytes) -> bytes:
    """RIFF/WAVE container assembly — THE single writer both encoders
    use. The word-alignment pad byte after an odd data chunk is excluded
    from the DATA chunk size but IS part of the RIFF container size."""
    pad = b"\x00" if len(raw) & 1 else b""
    return b"".join([
        b"RIFF",
        struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(raw) + len(pad)),
        b"WAVE",
        b"fmt ",
        struct.pack("<I", len(fmt)),
        fmt,
        b"data",
        struct.pack("<I", len(raw)),
        raw,
        pad,
    ])


def encode_wav_g711(sample_rate: int, g711_bytes: bytes, law: str = "mulaw") -> bytes:
    """Wrap an already-companded G.711 byte stream (one byte per sample)
    in a RIFF/WAVE container with format tag 7 (µ-law) or 6 (A-law) —
    fixture builder; no linear→G.711 compressor is needed because test
    payloads are constructed directly at the byte level."""
    tag = {"mulaw": _MULAW, "alaw": _ALAW}.get(law)
    if tag is None:
        raise WavError(f"unknown G.711 law {law!r} (mulaw|alaw)")
    raw = bytes(g711_bytes)
    fmt = struct.pack(
        "<HHIIHH", tag, 1, sample_rate, sample_rate, 1, 8,
    )  # mono: byte rate = sample rate, block align 1, 8 bits
    return _riff_wrap(fmt, raw)


def mulaw_byte(sign: int, exponent: int, mantissa: int) -> int:
    """The µ-law code whose expansion is ±(((mantissa*8)+0x84)<<exponent
    − 0x84) — inverse of the table formula, for analytic fixtures."""
    u = (0x80 if sign < 0 else 0) | ((exponent & 7) << 4) | (mantissa & 0x0F)
    return ~u & 0xFF


def alaw_byte(sign: int, segment: int, mantissa: int) -> int:
    """The A-law code whose expansion is ±seg/mantissa per G.711 —
    inverse of the table formula, for analytic fixtures."""
    a = (0x80 if sign >= 0 else 0) | ((segment & 7) << 4) | (mantissa & 0x0F)
    return a ^ 0x55


def slice_features(samples: np.ndarray) -> list[float]:
    """Mono-mix time-slice means — the audio twin of png.grid_features:
    average the channels, split the timeline into 8 contiguous
    chunks (floor(j·n/k) boundaries), mean each. Deterministic float64."""
    mono = samples.mean(axis=1)
    n = mono.size
    feats = []
    for j in range(8):
        lo = j * n // 8
        hi = (j + 1) * n // 8
        feats.append(float(mono[lo:hi].mean()) if hi > lo else 0.0)
    return feats


def wav_audio_decoder(data: bytes) -> tuple[int, int, list[float]]:
    """A ``decoder=`` for `extract_audio_features` over real WAV bytes:
    (n_samples, sample_rate, 8 time-slice means of the mono mix)."""
    rate, _channels, samples = decode_wav(data)
    return samples.shape[0], rate, slice_features(samples)
