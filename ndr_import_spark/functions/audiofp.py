"""Cross-codec audio fingerprinting (r11) — the AUDIO analogue of the
image aHash (`multimodal.perceptual_hash_images`): decode a payload to
PCM through the repo's clean-room codec stack and derive

* ``pcm_md5`` — an EXACT digest of the int16 samples. Lossless routes
  (WAV PCM16 and FLAC of the same signal decode bit-identically —
  pinned in tests) collapse here; one combinable groupBy gives exact
  cross-container dedup, the audio twin of identical-pixel dedup.
* ``fingerprint`` — a coarse 32-bit robust hash: the signal is split
  into 8 equal windows and each window's SETTLED mean (mean of the
  window's second half — codec transients at segment boundaries decay
  within half a window) is quantised to 4 bits. Lossy-but-faithful
  re-encodes (IMA ADPCM, G.711 µ-law / A-law — worst measured settled
  error 0.016 against a quantiser half-bin of 0.031) land in the same
  bucket as their source; genuinely different audio separates. Like
  SimHash for text, equal fingerprints are dedup CANDIDATES — the
  operator reports both tiers so callers can treat pcm_md5 matches as
  proven and fingerprint matches as candidate groups.

Both hashes are pure integer arithmetic on decoded samples, so they
are container-independent by construction. Scale shape: stateless
per-payload Arrow pass; only digests/fingerprints (≤48 bytes/row)
reach any shuffle, never samples.

No counterpart in the reference (publichealthengland/ndr_import has no
audio handling)."""

from __future__ import annotations

import hashlib
import struct

import numpy as np

__all__ = [
    "AudioFpError",
    "audio_codec_name",
    "audio_fingerprint",
    "audio_quality_stats",
    "decode_audio",
    "g711_encode",
    "pcm_digest",
    "resample_audio_linear",
    "silence_segments",
]


class AudioFpError(ValueError):
    pass


_WAV_TAGS = {
    1: "pcm16",
    3: "float32",
    6: "g711-alaw",
    7: "g711-mulaw",
    0x11: "adpcm-ima",
    2: "adpcm-ms",
}


def audio_codec_name(data: bytes) -> str:
    """Container/codec label for a PCM-decodable payload: 'flac' for
    fLaC streams, the fmt-tag name for RIFF/WAVE (pcm16 / float32 /
    g711-mulaw / g711-alaw / adpcm-ima / adpcm-ms)."""
    data = bytes(data)
    if data[:4] == b"fLaC":
        return "flac"
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        pos = 12
        while pos + 8 <= len(data):
            cid = data[pos:pos + 4]
            (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
            if cid == b"fmt " and size >= 2:
                (tag,) = struct.unpack("<H", data[pos + 8:pos + 10])
                return _WAV_TAGS.get(tag, f"wav-tag-{tag}")
            pos += 8 + size + (size & 1)
        raise AudioFpError("RIFF/WAVE without fmt chunk")
    raise AudioFpError("not a PCM-decodable payload (WAV or FLAC)")


def decode_audio(data: bytes):
    """(sample_rate, mono float64 samples) via the clean-room decoders
    (functions/wav.py incl. G.711/ADPCM routes, functions/flac.py).
    Multi-channel mixes down by mean BEFORE both hashes, so digest and
    fingerprint are content hashes of the same mono signal regardless
    of container channel conventions."""
    from ndr_import_spark.functions.flac import decode_flac
    from ndr_import_spark.functions.wav import decode_wav

    data = bytes(data)
    if data[:4] == b"fLaC":
        sr, _ch, samples = decode_flac(data)
    else:
        sr, _ch, samples = decode_wav(data)
    s = np.asarray(samples, dtype=np.float64)
    if s.ndim == 2:
        s = s.mean(axis=1)
    return sr, s


def pcm_digest(samples: np.ndarray) -> str:
    """md5 of the int16 quantisation of the mono signal — exact-match
    dedup key for lossless re-encodes."""
    i16 = np.clip(np.round(samples * 32768.0), -32768, 32767).astype("<i2")
    return hashlib.md5(i16.tobytes()).hexdigest()


def audio_fingerprint(samples: np.ndarray, windows: int = 8) -> int:
    """Settled-window 4-bit-level fingerprint (module docstring). The
    level of window j occupies bits [4j, 4j+4), little-endian, so two
    signals share a fingerprint iff every settled window mean lands in
    the same 1/8-wide amplitude bin."""
    n = samples.size // windows
    if n == 0:
        raise AudioFpError(
            f"signal too short for {windows}-window fingerprint")
    fp = 0
    for j in range(windows):
        w = samples[j * n:(j + 1) * n]
        m = float(np.mean(w[w.size // 2:]))
        level = min(max(int((m + 1.0) * 8.0), 0), 15)
        fp |= level << (4 * j)
    return fp


def g711_encode(samples: np.ndarray, law: str = "mulaw") -> bytes:
    """Linear -> G.711 companded bytes by nearest decoded value (the
    expansion tables are the normative spec surface; nearest-code
    encoding is exact at any representable level). Fixture-builder
    counterpart of wav.encode_wav_g711."""
    from ndr_import_spark.functions.wav import _ALAW_TABLE, _MULAW_TABLE

    table = {"mulaw": _MULAW_TABLE, "alaw": _ALAW_TABLE}.get(law)
    if table is None:
        raise AudioFpError(f"unknown G.711 law {law!r} (mulaw|alaw)")
    pcm = np.clip(np.round(np.asarray(samples, dtype=np.float64)
                           * 32768.0), -32768, 32767).astype(np.int64)
    codes = np.abs(table[None, :] - pcm[:, None]).argmin(axis=1)
    return codes.astype(np.uint8).tobytes()


# ------------------------------------------------- quality scoring (r11)


# Verdict thresholds — the audio analogue of the Gopher text-quality
# rules: fractions/levels a curation pipeline would gate on. Checked in
# precedence order (clipped > silent > dc_offset > ok) so a file gets
# ONE routing verdict.
CLIP_LEVEL = 32767.0 / 32768.0   # |sample| at int16 full scale
CLIP_RATIO_MAX = 0.01
SILENCE_LEVEL = 1.0 / 1024.0
SILENCE_RATIO_MAX = 0.9
DC_OFFSET_MAX = 0.1


def audio_quality_stats(sample_rate: int, samples: np.ndarray) -> dict:
    """Curation-grade quality stats over a decoded mono signal — the
    audio twin of the text quality scorers: peak, mean square (power;
    RMS² — kept squared so every stat is exact rational arithmetic on
    dyadic samples), DC offset, clipped-sample ratio, near-silence
    ratio, and a routing verdict. All integer/dyadic arithmetic: for
    power-of-two sample counts the means are EXACT in float64, which is
    what lets fixture oracles replay them bit-for-bit."""
    s = np.asarray(samples, dtype=np.float64)
    n = s.size
    if n == 0:
        raise AudioFpError("empty signal")
    a = np.abs(s)
    peak = float(a.max())
    mean_square = float(np.mean(s * s))
    dc_offset = float(np.mean(s))
    clip_ratio = float(np.count_nonzero(a >= CLIP_LEVEL)) / n
    silence_ratio = float(np.count_nonzero(a <= SILENCE_LEVEL)) / n
    if clip_ratio > CLIP_RATIO_MAX:
        verdict = "clipped"
    elif silence_ratio > SILENCE_RATIO_MAX:
        verdict = "silent"
    elif abs(dc_offset) > DC_OFFSET_MAX:
        verdict = "dc_offset"
    else:
        verdict = "ok"
    return {
        "sample_rate": int(sample_rate),
        "n_samples": int(n),
        "duration_ms": n * 1000.0 / sample_rate,
        "peak": peak,
        "mean_square": mean_square,
        "dc_offset": dc_offset,
        "clip_ratio": clip_ratio,
        "silence_ratio": silence_ratio,
        "verdict": verdict,
    }


# ---------------------------------------------------- resampling (r11)


def resample_audio_linear(samples: np.ndarray, src_sr: int,
                          dst_sr: int) -> np.ndarray:
    """Linear-interpolation sample-rate conversion (the audio twin of
    the image pipeline's nearest-neighbour resize: simple, exact,
    receipt-friendly — not a brick-wall resampler). Output length is
    floor(n * dst/src); position t_n = n * src/dst interpolates
    linearly between neighbouring samples, clamped at the ends. For
    integer upsample factors every interpolation weight is a dyadic
    rational, so resampled values of dyadic signals stay EXACT in
    float64 — which is what lets pipeline oracles replay the resampled
    stats bit-for-bit."""
    if src_sr <= 0 or dst_sr <= 0:
        raise AudioFpError("sample rates must be positive")
    s = np.asarray(samples, dtype=np.float64)
    if s.size == 0:
        raise AudioFpError("empty signal")
    if src_sr == dst_sr:
        return s.copy()
    n_out = s.size * dst_sr // src_sr
    pos = np.arange(n_out, dtype=np.float64) * (src_sr / dst_sr)
    return np.interp(pos, np.arange(s.size, dtype=np.float64), s)


# --------------------------------------------- silence segmentation (r11)


def silence_segments(samples: np.ndarray, min_gap: int) -> list[tuple[int, int]]:
    """Split a mono signal into voiced segments separated by silence —
    the audio twin of document chunking for ASR-style corpus prep:
    [(start, end)) sample ranges of maximal runs whose samples are not
    all silent, where two voiced runs merge unless separated by at
    least `min_gap` consecutive samples with |s| <= SILENCE_LEVEL. Leading and
    trailing silence belongs to no segment. Pure integer run-length
    arithmetic on a boolean mask — vectorised, deterministic,
    distribution-free."""
    if min_gap < 1:
        raise AudioFpError("min_gap must be >= 1 sample")
    s = np.asarray(samples, dtype=np.float64)
    voiced = np.abs(s) > SILENCE_LEVEL
    if not voiced.any():
        return []
    idx = np.flatnonzero(voiced)
    # split where consecutive voiced samples are separated by a gap of
    # at least min_gap silent samples
    breaks = np.flatnonzero(np.diff(idx) > min_gap)
    starts = np.concatenate(([idx[0]], idx[breaks + 1]))
    ends = np.concatenate((idx[breaks] + 1, [idx[-1] + 1]))
    return [(int(a), int(b)) for a, b in zip(starts, ends)]
