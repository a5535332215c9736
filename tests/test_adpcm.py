"""IMA/MS ADPCM codec tests (functions/adpcm.py + the decode_wav
dispatch). Strategy mirrors the other clean-room codecs: (1) the
vectorised block decoders are cross-checked against independent scalar
reference implementations written straight from the published
recurrences, over random nibble streams; (2) analytic streams pin exact
golden values (constant-nibble IMA ramps, MS coeff-pair-1 linear
extrapolation); (3) container-level WAV round-trips through decode_wav;
(4) the greedy reference encoder bounds round-trip error.

No counterpart in the reference (publichealthengland/ndr_import has no
audio handling) — this backs the north-star multimodal surface.
"""

import random

import numpy as np
import pytest

from ndr_import_spark.functions import adpcm
from ndr_import_spark.functions.wav import WavError, decode_wav


def ima_ref(pred: int, index: int, nibs: list[int]) -> list[int]:
    out = [pred]
    for n in nibs:
        step = int(adpcm.IMA_STEP_TABLE[index])
        d = (
            (step >> 3)
            + ((step >> 2) if n & 1 else 0)
            + ((step >> 1) if n & 2 else 0)
            + (step if n & 4 else 0)
        )
        pred = max(-32768, min(32767, pred + (-d if n & 8 else d)))
        index = max(0, min(88, index + int(adpcm.IMA_INDEX_ADJUST[n & 7])))
        out.append(pred)
    return out


def ms_ref(ci: int, idelta: int, s1: int, s2: int, nibs: list[int]) -> list[int]:
    c1, c2 = map(int, adpcm.MS_COEFFS[ci])
    out = [s2, s1]
    for n in nibs:
        sn = n - 16 if n >= 8 else n
        predicted = (s1 * c1 + s2 * c2) >> 8
        s = max(-32768, min(32767, predicted + sn * idelta))
        s2, s1 = s1, s
        idelta = min(max(16, (int(adpcm.MS_ADAPT[n]) * idelta) >> 8), 1 << 30)
        out.append(s)
    return out


class TestImaDecode:
    def test_random_streams_match_scalar_reference_mono(self):
        rng = random.Random(7)
        for _ in range(40):
            nblocks = rng.randint(1, 4)
            nwords = rng.randint(1, 6)
            raw = b""
            exp: list[int] = []
            for _b in range(nblocks):
                p = rng.randint(-30000, 30000)
                idx = rng.randint(0, 88)
                nibs = [rng.randint(0, 15) for _ in range(8 * nwords)]
                raw += adpcm.ima_block(p, idx, nibs)
                exp += ima_ref(p, idx, nibs)
            got = adpcm.decode_ima(raw, 1, 4 + 4 * nwords)
            assert np.allclose(got[:, 0], np.array(exp) / 32768.0)

    def test_random_streams_match_scalar_reference_stereo(self):
        rng = random.Random(11)
        for _ in range(25):
            nwords = rng.randint(1, 4)
            pL, pR = rng.randint(-20000, 20000), rng.randint(-20000, 20000)
            iL, iR = rng.randint(0, 88), rng.randint(0, 88)
            nibsL = [rng.randint(0, 15) for _ in range(8 * nwords)]
            nibsR = [rng.randint(0, 15) for _ in range(8 * nwords)]
            inter = [v for pair in zip(nibsL, nibsR) for v in pair]
            raw = adpcm.ima_block([pL, pR], [iL, iR], inter, channels=2)
            got = adpcm.decode_ima(raw, 2, 8 + 8 * nwords)
            assert np.allclose(got[:, 0], np.array(ima_ref(pL, iL, nibsL)) / 32768.0)
            assert np.allclose(got[:, 1], np.array(ima_ref(pR, iR, nibsR)) / 32768.0)

    def test_constant_nibble_ramps_are_exact(self):
        # from index 0 (step 7, index delta -1 clamps at 0) nibbles 0..3
        # give exact arithmetic ramps with slopes 0,1,3,4
        for nib, slope in [(0, 0), (1, 1), (2, 3), (3, 4)]:
            raw = adpcm.ima_block(100, 0, [nib] * 16)
            got = adpcm.decode_ima(raw, 1, 4 + 8)
            exp = 100 + slope * np.arange(17)
            assert np.array_equal((got[:, 0] * 32768).round().astype(int), exp)
        # sign bit mirrors the ramp downward
        raw = adpcm.ima_block(100, 0, [8 | 3] * 16)
        got = adpcm.decode_ima(raw, 1, 4 + 8)
        assert np.array_equal(
            (got[:, 0] * 32768).round().astype(int), 100 - 4 * np.arange(17)
        )

    def test_predictor_clamps_at_int16(self):
        raw = adpcm.ima_block(32700, 88, [4] * 8)  # max step, big adds
        got = adpcm.decode_ima(raw, 1, 8)
        assert got[:, 0].max() <= 32767 / 32768.0
        assert (got[:, 0] * 32768).round().max() == 32767

    def test_truncated_final_block_decodes_whole_words(self):
        full = adpcm.ima_block(0, 0, [1] * 16)
        tail = adpcm.ima_block(500, 0, [1] * 16)[: 4 + 4]  # one word kept
        got = adpcm.decode_ima(full + tail, 1, len(full))
        assert got.shape[0] == 17 + 9

    def test_bad_block_align_raises(self):
        with pytest.raises(adpcm.AdpcmError):
            adpcm.ima_samples_per_block(7, 1)
        with pytest.raises(adpcm.AdpcmError):
            adpcm.decode_ima(b"", 1, 8)


class TestMsDecode:
    def test_random_streams_match_scalar_reference_mono(self):
        rng = random.Random(13)
        for _ in range(40):
            ci = rng.randint(0, 6)
            dl = rng.randint(16, 4000)
            s1 = rng.randint(-25000, 25000)
            s2 = rng.randint(-25000, 25000)
            nibs = [rng.randint(0, 15) for _ in range(rng.randint(1, 20) * 2)]
            raw = adpcm.ms_block(ci, dl, s1, s2, nibs)
            got = adpcm.decode_ms(raw, 1, len(raw))
            assert np.allclose(
                got[:, 0], np.array(ms_ref(ci, dl, s1, s2, nibs)) / 32768.0
            )

    def test_random_streams_match_scalar_reference_stereo(self):
        rng = random.Random(17)
        for _ in range(25):
            n = rng.randint(1, 12)
            ci = [rng.randint(0, 6), rng.randint(0, 6)]
            dl = [rng.randint(16, 2000), rng.randint(16, 2000)]
            s1 = [rng.randint(-20000, 20000), rng.randint(-20000, 20000)]
            s2 = [rng.randint(-20000, 20000), rng.randint(-20000, 20000)]
            nibsL = [rng.randint(0, 15) for _ in range(n)]
            nibsR = [rng.randint(0, 15) for _ in range(n)]
            inter = [v for pair in zip(nibsL, nibsR) for v in pair]
            raw = adpcm.ms_block(ci, dl, s1, s2, inter, channels=2)
            got = adpcm.decode_ms(raw, 2, len(raw))
            for c, nibs in ((0, nibsL), (1, nibsR)):
                exp = ms_ref(ci[c], dl[c], s1[c], s2[c], nibs)
                assert np.allclose(got[:, c], np.array(exp) / 32768.0)

    def test_coeff_pair_one_is_exact_linear_extrapolation(self):
        # coeffs (512,-256): predicted = 2*s1 - s2; nibble 0 keeps the
        # error at zero, so the output is the exact line through (s2, s1)
        raw = adpcm.ms_block(1, 16, 1000, 900, [0] * 20)
        got = adpcm.decode_ms(raw, 1, len(raw))
        exp = np.array([900, 1000] + [1000 + 100 * (i + 1) for i in range(20)])
        assert np.array_equal((got[:, 0] * 32768).round().astype(int), exp)

    def test_coeff_pair_zero_holds_constant(self):
        raw = adpcm.ms_block(0, 16, -1234, 777, [0] * 10)
        got = (adpcm.decode_ms(raw, 1, len(raw))[:, 0] * 32768).round()
        assert list(got) == [777, -1234] + [-1234] * 10

    def test_out_of_range_predictor_index_raises(self):
        raw = adpcm.ms_block(6, 16, 0, 0, [0, 0])
        bad = bytes([7]) + raw[1:]
        with pytest.raises(adpcm.AdpcmError):
            adpcm.decode_ms(bad, 1, len(bad))


class TestWavContainer:
    def test_ima_wav_roundtrip_through_decode_wav(self):
        blocks = adpcm.ima_block(64, 0, [2] * 16)
        wav = adpcm.encode_wav_ima(11025, blocks, 1, 4 + 8)
        rate, ch, samples = decode_wav(wav)
        assert (rate, ch) == (11025, 1)
        assert np.array_equal(
            (samples[:, 0] * 32768).round().astype(int), 64 + 3 * np.arange(17)
        )

    def test_ms_wav_roundtrip_through_decode_wav(self):
        blocks = adpcm.ms_block(1, 16, 50, 40, [0] * 12)
        wav = adpcm.encode_wav_ms(8000, blocks, 1, len(blocks))
        rate, ch, samples = decode_wav(wav)
        assert (rate, ch) == (8000, 1)
        exp = [40, 50] + [50 + 10 * (i + 1) for i in range(12)]
        assert list((samples[:, 0] * 32768).round().astype(int)) == exp

    def test_ms_wav_honours_fmt_chunk_coefficients(self):
        # a custom pair (128, 0) halves s1 each step (with nibble 0)
        import struct

        from ndr_import_spark.functions.wav import _riff_wrap

        blocks = adpcm.ms_block(0, 16, 16384, 0, [0] * 4)
        spb = adpcm.ms_samples_per_block(len(blocks), 1)
        extra = struct.pack("<HHH", 8, spb, 1) + struct.pack("<hh", 128, 0)
        fmt = struct.pack(
            "<HHIIHH", 0x02, 1, 8000, 8000, len(blocks), 4
        ) + extra
        wav = _riff_wrap(fmt, blocks)
        _, _, samples = decode_wav(wav)
        got = list((samples[:, 0] * 32768).round().astype(int))
        assert got == [0, 16384, 8192, 4096, 2048, 1024]

    def test_encoder_roundtrip_error_bounded(self):
        sig = np.sin(np.linspace(0, 20, 2000)) * 0.4
        blocks = adpcm.encode_ima(sig, block_align=256)
        wav = adpcm.encode_wav_ima(16000, blocks, 1, 256)
        _, _, dec = decode_wav(wav)
        n = min(sig.size, dec.shape[0])
        assert np.abs(dec[:n, 0] - sig[:n]).max() < 0.02

    def test_ms_encoder_roundtrip_error_bounded(self):
        """encode_ms (r11, the encode_ima twin): greedy coeff-0 nibble
        selection must track a smooth signal within one idelta step and
        reproduce constant runs EXACTLY after the block's first two
        stored samples."""
        sig = np.sin(np.linspace(0, 20, 2000)) * 0.4
        wav = adpcm.encode_wav_ms(
            16000, adpcm.encode_ms(sig, block_align=256), 1, 256)
        _, _, dec = decode_wav(wav)
        n = min(sig.size, dec.shape[0])
        assert np.abs(dec[:n, 0] - sig[:n]).max() < 0.02
        const = np.full(600, 0.3125)
        wav = adpcm.encode_wav_ms(
            8000, adpcm.encode_ms(const, block_align=256), 1, 256)
        _, _, dec = decode_wav(wav)
        got = np.asarray(dec).reshape(-1)[:600]
        # constant runs are exact: prediction == previous sample, error 0
        assert np.abs(got - 0.3125).max() < 1e-9

    def test_multimodal_audio_features_dispatch(self, spark):
        from ndr_import_spark.operators import multimodal as MM

        blocks = adpcm.ima_block(0, 0, [1] * 16)
        wav = adpcm.encode_wav_ima(11025, blocks, 1, 12)
        df = spark.createDataFrame(
            [(0, "audio", "audio/wav", None, None, None, bytearray(wav))],
            MM.MEDIA_SCHEMA,
        )
        row = MM.extract_audio_features(df).collect()[0]
        assert row.n_samples == 17 and row.sample_rate == 11025
        # ramp 0..16: slice means of t/32768 over floor-split eighths
        exp = []
        for j in range(8):
            lo, hi = j * 17 // 8, (j + 1) * 17 // 8
            exp.append(sum(range(lo, hi)) / (hi - lo) / 32768.0)
        assert np.allclose(row.feature, exp)


class TestHeaderOnlyTails:
    """ADVICE r6: a truncated final block holding ONLY the per-channel
    headers still encodes real samples — 1/ch for IMA (predictor),
    2/ch for MS (sample2, sample1) — and must not be dropped."""

    def test_ima_header_only_tail_yields_predictor_sample(self):
        full = adpcm.ima_block(0, 0, [1] * 16)
        tail = adpcm.ima_block(500, 0, [1] * 16)[:4]  # headers only
        got = adpcm.decode_ima(full + tail, 1, len(full))
        assert got.shape[0] == 17 + 1
        assert round(got[-1, 0] * 32768) == 500

    def test_ms_header_only_tail_yields_two_header_samples(self):
        full = adpcm.ms_block(0, 16, 10, 20, [0] * 4)
        tail = adpcm.ms_block(0, 16, -7, 300, [0] * 4)[:7]  # headers only
        got = adpcm.decode_ms(full + tail, 1, len(full))
        assert got.shape[0] == 6 + 2
        assert (got[-2:, 0] * 32768).round().astype(int).tolist() == [300, -7]

    def test_sub_header_tail_still_dropped(self):
        full = adpcm.ima_block(0, 0, [1] * 16)
        got = adpcm.decode_ima(full + b"\x01\x02", 1, len(full))
        assert got.shape[0] == 17
        fullms = adpcm.ms_block(0, 16, 10, 20, [0] * 4)
        gotms = adpcm.decode_ms(fullms + b"\x01\x02\x03", 1, len(fullms))
        assert gotms.shape[0] == 6
