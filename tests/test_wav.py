"""Stdlib WAV/PCM codec (functions/wav.py) + multimodal audio wiring.

Reference points are ANALYTIC: constant and step waveforms have exactly
computable normalised sample values and slice means, so the decoder is
checked against values derived independently of the encoder (and the
encoder against hand-packed RIFF bytes)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ndr_import_spark.functions.wav import (
    WavError,
    decode_wav,
    encode_wav,
    is_wav,
    slice_features,
    wav_audio_decoder,
)


def _handmade_wav_16bit(rate, values, channels=1):
    """Pack a WAV by hand — independent of encode_wav."""
    raw = b"".join(struct.pack("<h", v) for v in values)
    balign = channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * balign, balign, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(raw))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(raw))
        + raw
    )


class TestDecodeKnownAnswers:
    def test_handmade_constant_16bit(self):
        data = _handmade_wav_16bit(8000, [16384] * 64)
        assert is_wav(data)
        rate, ch, samples = decode_wav(data)
        assert (rate, ch) == (8000, 1)
        assert samples.shape == (64, 1)
        assert np.all(samples == 0.5)  # 16384/32768 exactly

    def test_handmade_step_wave_slices(self):
        vals = [-8192] * 32 + [24576] * 32
        n, rate, feats = wav_audio_decoder(_handmade_wav_16bit(16000, vals))
        assert (n, rate) == (64, 16000)
        assert feats == [-0.25] * 4 + [0.75] * 4

    def test_stereo_mix(self):
        # interleaved L=+0.5, R=-0.5 → mono mix 0 in every slice
        vals = [16384, -16384] * 40
        data = _handmade_wav_16bit(44100, vals, channels=2)
        rate, ch, samples = decode_wav(data)
        assert (rate, ch) == (44100, 2) and samples.shape == (40, 2)
        assert slice_features(samples) == [0.0] * 8

    def test_8bit_unsigned(self):
        data = encode_wav(8000, np.full(24, -0.5), bits=8)
        rate, ch, samples = decode_wav(data)
        assert np.all(samples == -0.5)  # round(-0.5*128+128)=64 → -64/128

    def test_float32_passthrough(self):
        v = 0.3125  # exactly representable
        data = encode_wav(22050, np.full(16, v), float_format=True)
        rate, ch, samples = decode_wav(data)
        assert rate == 22050 and np.all(samples == v)

    def test_24bit_pcm(self):
        # hand-pack 24-bit: value -(1<<22) → -0.5
        raw = struct.pack("<i", -(1 << 22))[:3] * 10
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 3, 3, 24)
        data = (
            b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(raw))
            + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(raw)) + raw
        )
        rate, ch, samples = decode_wav(data)
        assert np.all(samples == -0.5)

    def test_extensible_format_resolves_to_pcm(self):
        base = bytearray(_handmade_wav_16bit(8000, [100] * 8))
        # rebuild with a WAVE_FORMAT_EXTENSIBLE fmt chunk
        sub = struct.pack("<H", 1) + bytes.fromhex(
            "000000001000800000aa00389b71"
        )
        fmt = struct.pack("<HHIIHH", 0xFFFE, 1, 8000, 16000, 2, 16)
        fmt += struct.pack("<HHI", 22, 16, 0x4) + sub
        raw = b"".join(struct.pack("<h", 100) for _ in range(8))
        data = (
            b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(raw))
            + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(raw)) + raw
        )
        rate, ch, samples = decode_wav(data)
        assert rate == 8000 and samples.shape == (8, 1)

    def test_skips_unknown_chunks(self):
        base = _handmade_wav_16bit(8000, [1000] * 8)
        # splice a LIST chunk (odd size → pad byte) between fmt and data
        fmt_end = base.index(b"data")
        listed = base[:fmt_end] + b"LIST" + struct.pack("<I", 5) + b"INFOx\x00" + base[fmt_end:]
        listed = listed[:4] + struct.pack("<I", len(listed) - 8) + listed[8:]
        rate, ch, samples = decode_wav(listed)
        assert samples.shape == (8, 1)


class TestRoundtrip:
    @pytest.mark.parametrize("bits,flt", [(8, False), (16, False), (16, True)])
    def test_sine_roundtrip(self, bits, flt):
        t = np.arange(256)
        sig = 0.4 * np.sin(2 * np.pi * t / 32)
        data = encode_wav(16000, sig, bits=bits, float_format=flt)
        rate, ch, samples = decode_wav(data)
        assert rate == 16000 and samples.shape == (256, 1)
        tol = 1 / 120 if bits == 8 and not flt else 1e-4
        assert np.abs(samples[:, 0] - sig).max() <= tol


class TestErrorPaths:
    def test_not_a_wav(self):
        with pytest.raises(WavError, match="RIFF"):
            decode_wav(b"\x89PNG1234WAVE")

    def test_compressed_format_rejected(self):
        data = bytearray(_handmade_wav_16bit(8000, [0] * 8))
        fmt_at = data.index(b"fmt ") + 8
        data[fmt_at : fmt_at + 2] = struct.pack("<H", 0x55)  # MP3-in-WAV
        with pytest.raises(WavError, match="unsupported WAV format tag"):
            decode_wav(bytes(data))

    def test_adpcm_tags_dispatch_not_reject(self):
        # tags 2 / 0x11 now route to functions/adpcm.py; a malformed
        # (PCM-shaped) body surfaces as WavError, not 'unsupported tag'
        data = bytearray(_handmade_wav_16bit(8000, [0] * 8))
        fmt_at = data.index(b"fmt ") + 8
        data[fmt_at : fmt_at + 2] = struct.pack("<H", 2)  # MS ADPCM
        with pytest.raises(WavError) as exc:
            decode_wav(bytes(data))
        assert "unsupported WAV format tag" not in str(exc.value)

    def test_truncations_raise_waverror(self):
        data = _handmade_wav_16bit(8000, list(range(-30, 30)))
        for cut in range(4, len(data), 7):
            try:
                decode_wav(data[:cut])
            except WavError:
                pass  # never a raw struct.error / ValueError

    def test_missing_data_chunk(self):
        data = _handmade_wav_16bit(8000, [0] * 4)
        with pytest.raises(WavError, match="missing data"):
            decode_wav(data[: data.index(b"data")])


class TestG711:
    def test_mulaw_known_answers(self):
        from ndr_import_spark.functions.wav import (
            decode_wav,
            encode_wav_g711,
            mulaw_byte,
        )

        # ITU-T G.711 µ-law: 0xFF is +0, 0x7F is -0, 0x80 the positive max
        rate, ch, s = decode_wav(
            encode_wav_g711(8000, bytes([0xFF, 0x7F, 0x80, 0x00]), "mulaw")
        )
        assert rate == 8000 and ch == 1
        assert s[:, 0].tolist() == [
            0.0, 0.0, 32124 / 32768.0, -32124 / 32768.0
        ]
        # closed-form expansion for arbitrary (exp, mantissa)
        code = mulaw_byte(+1, 3, 5)
        _, _, s = decode_wav(encode_wav_g711(8000, bytes([code]), "mulaw"))
        assert s[0, 0] == (((5 * 8) + 132 << 3) - 132) / 32768.0

    def test_alaw_known_answers(self):
        from ndr_import_spark.functions.wav import (
            alaw_byte,
            decode_wav,
            encode_wav_g711,
        )

        # A-law: 0xD5 (0x80^0x55) is +8/32768 (seg 0 mant 0); max is 32256
        rate, ch, s = decode_wav(
            encode_wav_g711(8000, bytes([0xD5, 0x55]), "alaw")
        )
        assert s[:, 0].tolist() == [8 / 32768.0, -8 / 32768.0]
        code = alaw_byte(+1, 7, 15)
        _, _, s = decode_wav(encode_wav_g711(8000, bytes([code]), "alaw"))
        assert s[0, 0] == 32256 / 32768.0

    def test_g711_full_table_monotone_sections(self):
        from ndr_import_spark.functions.wav import _ALAW_TABLE, _MULAW_TABLE

        # expansions are symmetric and bounded to the published ranges
        assert int(_MULAW_TABLE.max()) == 32124
        assert int(_MULAW_TABLE.min()) == -32124
        assert int(_ALAW_TABLE.max()) == 32256
        assert int(_ALAW_TABLE.min()) == -32256

    def test_bad_law_name(self):
        from ndr_import_spark.functions.wav import encode_wav_g711

        with pytest.raises(WavError, match="unknown G.711 law"):
            encode_wav_g711(8000, b"\x00", "dpcm")


class TestSparkIntegration:
    def test_extract_audio_features_stdlib_default(self, spark):
        from ndr_import_spark.operators import multimodal as MM

        rows = []
        for i in range(12):
            amp = (i - 6) / 8.0
            payload = encode_wav(8000 + 100 * i, np.full(64, amp), bits=16)
            rows.append((i, "audio", "audio/wav", None, None, None,
                         bytearray(payload)))
        media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA).coalesce(2)
        got = {
            r["media_id"]: r
            for r in MM.extract_audio_features(media).collect()
        }
        assert len(got) == 12
        for i in range(12):
            r = got[i]
            assert r["n_samples"] == 64 and r["sample_rate"] == 8000 + 100 * i
            exp = round((i - 6) / 8.0 * 32768) / 32768
            assert r["feature"] == pytest.approx([exp] * 8, abs=0)

    def test_injected_decoder_still_wins(self, spark):
        from ndr_import_spark.operators import multimodal as MM

        payload = encode_wav(8000, np.zeros(16), bits=16)
        media = spark.createDataFrame(
            [(0, "audio", "audio/wav", None, None, None, bytearray(payload))],
            MM.MEDIA_SCHEMA,
        )
        row = MM.extract_audio_features(
            media, decoder=MM.deterministic_fake_audio_decoder
        ).collect()[0]
        # fake decoder: n_samples == byte length, rate pinned to 16 kHz
        assert row["sample_rate"] == 16000
        assert row["n_samples"] == len(payload)

    def test_non_wav_without_decoder_raises(self, spark):
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PythonException

        from ndr_import_spark.operators import multimodal as MM

        media = spark.createDataFrame(
            [(0, "audio", "audio/mp3", None, None, None, bytearray(b"ID3 junk"))],
            MM.MEDIA_SCHEMA,
        )
        with pytest.raises((PythonException, Py4JJavaError)):
            MM.extract_audio_features(media).collect()
