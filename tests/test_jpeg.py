"""Stdlib baseline JPEG codec (functions/jpeg.py) + multimodal wiring.

Reference points: solid-color images are ANALYTIC known answers (constant
blocks quantise to a DC-only spectrum; at quality=100 the roundtrip is
exact — T.81 A.3.3), so the decoder is checked against values derived
independently of the encoder. The mixed-format Spark tests pin the
operators' PNG+JPEG dispatch with no injected decoder.
"""

from __future__ import annotations

import numpy as np
import pytest

from ndr_import_spark.functions.jpeg import (
    JpegError,
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_progressive,
    is_jpeg,
)
from ndr_import_spark.functions.png import grid_features


def _gradient_rgb(w, h):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [
            (xx * 2 + 30) % 200 + 20,
            (yy * 3 + 50) % 200 + 20,
            (xx + yy) % 200 + 20,
        ],
        axis=2,
    ).astype(np.uint8)


class TestCodecKnownAnswers:
    def test_solid_gray_roundtrips_exactly(self):
        # constant grayscale at quality=100: FDCT of a constant block is
        # DC-only (8*(v-128), integral), quant=1 keeps it, IDCT returns
        # the constant — decode must be bit-exact for ANY v and any dims
        for v, w, h in ((0, 8, 8), (120, 24, 17), (255, 13, 29), (53, 40, 8)):
            data = encode_jpeg(w, h, bytes([v]) * (w * h), channels=1, quality=100)
            assert is_jpeg(data)
            dw, dh, ch, px = decode_jpeg(data)
            assert (dw, dh, ch) == (w, h, 1)
            arr = np.frombuffer(px, np.uint8)
            assert arr.min() == arr.max() == v

    def test_solid_color_rgb_known_answer(self):
        # constant colour: Y/Cb/Cr planes are constant, reconstruct to
        # the rounded YCbCr values, and the RGB conversion is the known
        # BT.601 arithmetic — computed here independently of the codec
        r0, g0, b0 = 200, 30, 90
        w, h = 19, 11
        rgb = np.tile(np.array([r0, g0, b0], np.uint8), (h, w, 1))
        data = encode_jpeg(w, h, rgb.tobytes(), channels=3, quality=100)
        dw, dh, ch, px = decode_jpeg(data)
        assert (dw, dh, ch) == (w, h, 3)
        got = np.frombuffer(px, np.uint8).reshape(h, w, 3)
        # independent expectation: forward colour transform, round-trip
        # through the exact DC-only path (values stay real until the
        # final pixel rounding), inverse transform, clip+round
        y = 0.299 * r0 + 0.587 * g0 + 0.114 * b0
        cb = -0.168736 * r0 - 0.331264 * g0 + 0.5 * b0 + 128.0
        cr = 0.5 * r0 - 0.418688 * g0 - 0.081312 * b0 + 128.0
        # encoder rounds the DC coefficient: dcq = round(8*(p-128));
        # decoder reconstructs p' = round(dcq/8 + 128)
        rec = [round(round(8 * (p - 128)) / 8 + 128) for p in (y, cb, cr)]
        yr, cbr, crr = float(rec[0]), rec[1] - 128.0, rec[2] - 128.0
        exp = (
            int(np.clip(round(yr + 1.402 * crr), 0, 255)),
            int(np.clip(round(yr - 0.344136 * cbr - 0.714136 * crr), 0, 255)),
            int(np.clip(round(yr + 1.772 * cbr), 0, 255)),
        )
        assert {tuple(p) for p in got.reshape(-1, 3)} == {exp}

    def test_rgb_roundtrip_q100_near_lossless(self):
        img = _gradient_rgb(37, 23)
        data = encode_jpeg(37, 23, img.tobytes(), channels=3, quality=100)
        _, _, _, px = decode_jpeg(data)
        got = np.frombuffer(px, np.uint8).reshape(23, 37, 3).astype(int)
        # quant=1 so the only loss is colour-transform + DCT rounding
        assert np.abs(got - img.astype(int)).max() <= 3

    def test_decode_golden_is_stable(self):
        # regression pin: a fixed image must decode to the same bytes
        # build-over-build (deterministic Huffman + exact IDCT)
        import hashlib

        img = _gradient_rgb(32, 16)
        data = encode_jpeg(32, 16, img.tobytes(), channels=3, quality=75)
        _, _, _, px = decode_jpeg(data)
        digest = hashlib.md5(px).hexdigest()
        _, _, _, px2 = decode_jpeg(data)
        assert hashlib.md5(px2).hexdigest() == digest
        got = np.frombuffer(px, np.uint8).reshape(16, 32, 3).astype(int)
        assert np.abs(got - img.astype(int)).mean() < 12


class TestSubsamplingAndRestarts:
    @pytest.mark.parametrize("ss", ["4:4:4", "4:2:2", "4:2:0"])
    def test_subsampled_decode_bounded_error(self, ss):
        # smooth image: chroma box-mean + replication error stays small
        w, h = 41, 26
        img = _gradient_rgb(w, h)
        data = encode_jpeg(w, h, img.tobytes(), channels=3, quality=100, subsampling=ss)
        dw, dh, ch, px = decode_jpeg(data)
        assert (dw, dh, ch) == (w, h, 3)
        got = np.frombuffer(px, np.uint8).reshape(h, w, 3).astype(int)
        err = np.abs(got - img.astype(int))
        assert err.mean() < 4.0 and err.max() <= 120  # wrap edges spike chroma

    def test_restart_markers_do_not_change_pixels(self):
        w, h = 50, 34
        img = _gradient_rgb(w, h)
        plain = encode_jpeg(w, h, img.tobytes(), channels=3, quality=90)
        rst = encode_jpeg(
            w, h, img.tobytes(), channels=3, quality=90, restart_interval=2
        )
        assert b"\xff\xdd" in rst and b"\xff\xd0" in rst
        assert decode_jpeg(plain)[3] == decode_jpeg(rst)[3]

    def test_grayscale_subsampling_ignored(self):
        data = encode_jpeg(16, 16, bytes(range(256)), channels=1, quality=95)
        w, h, ch, px = decode_jpeg(data)
        assert ch == 1 and len(px) == 256

    def test_single_component_scan_is_non_interleaved(self):
        # T.81 A.2.2: sampling factors in SOF are IGNORED for a
        # single-component scan (MCU = one data unit, raster order) —
        # rebrand a grayscale file's sampling byte as 2x2 and the decode
        # must be unchanged, not desynchronised
        data = bytearray(
            encode_jpeg(24, 17, bytes([9, 30, 200] * 136), channels=1, quality=100)
        )
        ref = decode_jpeg(bytes(data))
        sof = bytes(data).find(b"\xff\xc0")
        # SOF0 layout: marker(2) len(2) prec(1) h(2) w(2) ncomp(1) [id hv tq]
        hv_at = sof + 2 + 2 + 1 + 2 + 2 + 1 + 1
        assert data[hv_at] == 0x11
        data[hv_at] = 0x22
        assert decode_jpeg(bytes(data)) == ref


class TestErrorPaths:
    def test_not_a_jpeg(self):
        with pytest.raises(JpegError, match="missing SOI"):
            decode_jpeg(b"\x89PNG\r\n\x1a\n")

    def test_sof0_rebranded_as_sof2_raises(self):
        # a baseline scan header (Ss=0..Se=63) is malformed under SOF2
        # rules (a progressive DC scan needs Se=0) — clear error, no decode
        data = bytearray(encode_jpeg(8, 8, bytes(64), channels=1))
        sof = data.find(b"\xff\xc0")
        data[sof + 1] = 0xC2  # rebrand as progressive
        with pytest.raises(JpegError, match="mixes DC and AC"):
            decode_jpeg(bytes(data))

    def test_arithmetic_sof_rejected(self):
        data = bytearray(encode_jpeg(8, 8, bytes(64), channels=1))
        sof = data.find(b"\xff\xc0")
        data[sof + 1] = 0xC9  # arithmetic sequential
        with pytest.raises(JpegError, match="unsupported SOF"):
            decode_jpeg(bytes(data))

    def test_truncated_entropy_data(self):
        data = encode_jpeg(24, 24, bytes([200]) * (24 * 24 * 3), channels=3)
        with pytest.raises(JpegError):
            decode_jpeg(data[: len(data) // 2])

    def test_truncation_never_leaks_raw_valueerror(self):
        # cut at EVERY prefix length: the contract is JpegError for any
        # garbage, never a numpy shape ValueError escaping to the caller
        data = encode_jpeg(8, 8, bytes(range(192)), channels=3, quality=80)
        for cut in range(2, len(data), 7):
            try:
                decode_jpeg(data[:cut])
            except JpegError:
                pass

    def test_bad_channel_count(self):
        with pytest.raises(JpegError, match="channel"):
            encode_jpeg(2, 2, bytes(8), channels=2)

    def test_decoder_hook_shape(self):
        data = encode_jpeg(12, 9, bytes([77]) * 108, channels=1, quality=100)
        w, h, ch, px = decode_jpeg(data)
        feats = grid_features(w, h, ch, px)
        assert (w, h) == (12, 9)
        assert len(feats) == 16
        assert all(abs(f - 77 / 255.0) < 1e-6 for f in feats)


class TestSparkIntegration:
    def _media(self, spark):
        from ndr_import_spark.functions.png import encode_png

        rows = []
        for i in range(12):
            if i % 2 == 0:
                v = 40 + i * 10
                payload = encode_jpeg(
                    10, 8, bytes([v]) * 80, channels=1, quality=100
                )
            else:
                rgb = _gradient_rgb(6, 5).tobytes()
                payload = encode_png(6, 5, rgb)
            rows.append((i, "image", "image/mixed", None, None, None, bytearray(payload)))
        from ndr_import_spark.operators.multimodal import MEDIA_SCHEMA

        return spark.createDataFrame(rows, MEDIA_SCHEMA)

    def test_extract_features_mixed_png_jpeg(self, spark):
        from ndr_import_spark.operators import multimodal as MM

        out = MM.extract_features(self._media(spark)).collect()
        assert len(out) == 12
        by_id = {r["media_id"]: r for r in out}
        for i in range(0, 12, 2):  # JPEG rows: exact solid-gray features
            v = 40 + i * 10
            assert (by_id[i]["width"], by_id[i]["height"]) == (10, 8)
            assert all(abs(f - v / 255.0) < 1e-6 for f in by_id[i]["feature"])
        for i in range(1, 12, 2):  # PNG rows decode losslessly
            assert (by_id[i]["width"], by_id[i]["height"]) == (6, 5)
            assert len(by_id[i]["feature"]) == 16

    def test_resize_jpeg_stays_jpeg(self, spark):
        from ndr_import_spark.operators.multimodal import resize_images

        out = resize_images(self._media(spark), 4, 4).collect()
        assert len(out) == 12
        from ndr_import_spark.functions.png import is_png

        for r in out:
            data = bytes(r["payload"])
            assert (r["width"], r["height"]) == (4, 4)
            if r["media_id"] % 2 == 0:
                assert is_jpeg(data)
                w, h, ch, px = decode_jpeg(data)
                assert (w, h) == (4, 4)
                # grayscale source stays GRAYSCALE through the resize
                # (single-component re-encode — no YCbCr inflation)
                assert ch == 1
                # solid-gray source → solid-gray thumbnail, exact at q=90?
                # no: default quality 90 quantises; constant image is
                # still DC-only so error is the DC quant step only
                arr = np.frombuffer(px, np.uint8).reshape(4, 4)
                assert int(arr.max()) - int(arr.min()) == 0
            else:
                assert is_png(data)


class TestProgressive:
    """SOF2 decode (T.81 Annex G). The progressive encoder runs the SAME
    _prepare_encode pipeline as the baseline encoder, so the quantised
    coefficients are identical — progressive decode must equal baseline
    decode BIT-FOR-BIT, an oracle independent of the decoder under test."""

    def _roundtrip_equal(self, w, h, pixels, channels, quality, ss="4:4:4",
                         restart_interval=0):
        base = encode_jpeg(w, h, pixels, channels=channels, quality=quality,
                           subsampling=ss)
        prog = encode_jpeg_progressive(
            w, h, pixels, channels=channels, quality=quality, subsampling=ss,
            restart_interval=restart_interval,
        )
        assert prog[3] == 0xC2 or b"\xff\xc2" in prog  # really SOF2
        bw_, bh_, bc_, bpx = decode_jpeg(base)
        pw_, ph_, pc_, ppx = decode_jpeg(prog)
        assert (bw_, bh_, bc_) == (pw_, ph_, pc_)
        assert bpx == ppx, "progressive decode differs from baseline decode"
        return pw_, ph_, pc_, ppx

    def test_gradient_rgb_444(self):
        img = _gradient_rgb(37, 29)  # non-multiple-of-8 both axes
        self._roundtrip_equal(37, 29, img.tobytes(), 3, 85)

    def test_gradient_rgb_420_subsampled(self):
        img = _gradient_rgb(41, 33)
        self._roundtrip_equal(41, 33, img.tobytes(), 3, 75, ss="4:2:0")

    def test_gradient_rgb_422(self):
        img = _gradient_rgb(24, 16)
        self._roundtrip_equal(24, 16, img.tobytes(), 3, 90, ss="4:2:2")

    def test_grayscale(self):
        rng = np.random.default_rng(42)
        img = rng.integers(0, 256, size=(19, 23), dtype=np.uint8)
        self._roundtrip_equal(23, 19, img.tobytes(), 1, 80)

    def test_noise_rgb_exercises_zrl_and_eobrun(self):
        # sparse high-frequency noise at low quality → long zero runs
        # (ZRL), all-zero bands (EOB runs) and refinement corrections
        rng = np.random.default_rng(7)
        img = np.full((40, 48, 3), 128, dtype=np.uint8)
        ys = rng.integers(0, 40, 60)
        xs = rng.integers(0, 48, 60)
        img[ys, xs] = rng.integers(0, 256, size=(60, 3))
        self._roundtrip_equal(48, 40, img.tobytes(), 3, 25)

    def test_solid_gray_q100_exact(self):
        # analytic: solid 128 gray decodes exactly at q100 regardless of
        # the scan structure
        w, h, c, px = self._roundtrip_equal(16, 16, bytes([128]) * 256, 1, 100)
        assert px == bytes([128]) * 256

    def test_restart_markers_in_dc_scan(self):
        img = _gradient_rgb(32, 24)
        self._roundtrip_equal(32, 24, img.tobytes(), 3, 85,
                              restart_interval=3)

    def test_truncated_progressive_raises(self):
        img = _gradient_rgb(32, 32)
        prog = encode_jpeg_progressive(32, 32, img.tobytes(), channels=3,
                                       quality=85)
        for frac in (0.3, 0.6, 0.9):
            with pytest.raises(JpegError):
                decode_jpeg(prog[: int(len(prog) * frac)])

    def test_dispatches_through_multimodal_decoder_hook(self):
        from ndr_import_spark.operators.multimodal import _decode_raw

        img = _gradient_rgb(16, 16)
        prog = encode_jpeg_progressive(16, 16, img.tobytes(), channels=3,
                                       quality=90)
        w, h, ch, px = _decode_raw(prog)
        feats = grid_features(w, h, ch, px)
        assert (w, h) == (16, 16)
        assert len(feats) > 0
