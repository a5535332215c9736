"""MJPEG-in-AVI container (functions/avi.py) + multimodal video wiring.

Reference points are ANALYTIC: solid-gray frames at quality=100 decode
exactly (constant blocks are DC-only), so per-frame mean features are
known independently of the codec under test."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ndr_import_spark.functions.avi import (
    AviError,
    avi_video_decoder,
    decode_avi_mjpeg,
    encode_avi_mjpeg,
    is_avi,
)
from ndr_import_spark.functions.jpeg import decode_jpeg, encode_jpeg


def _gray_frame(v, w=16, h=8):
    return encode_jpeg(w, h, bytes([v]) * (w * h), channels=1, quality=100)


class TestContainer:
    def test_roundtrip_solid_frames(self):
        frames = [_gray_frame(v) for v in (0, 64, 128, 255)]
        avi = encode_avi_mjpeg(16, 8, frames, us_per_frame=50000)
        assert is_avi(avi)
        w, h, uspf, got = decode_avi_mjpeg(avi)
        assert (w, h, uspf) == (16, 8, 50000)
        assert len(got) == 4
        for f, v in zip(got, (0, 64, 128, 255)):
            dw, dh, ch, px = decode_jpeg(f)
            assert (dw, dh, ch) == (16, 8, 1)
            arr = np.frombuffer(px, np.uint8)
            assert arr.min() == arr.max() == v  # q100 solid gray is exact

    def test_tableless_mjpeg_frames_get_annex_k_tables(self):
        # strip the DHT segments from a frame — the MJPEG convention —
        # and the container decode must splice the typical tables back
        frame = _gray_frame(200)
        stripped = bytearray()
        pos = 2
        stripped += frame[:2]
        while pos + 4 <= len(frame):
            marker = frame[pos + 1]
            if frame[pos] != 0xFF:
                stripped += frame[pos:]
                break
            if marker == 0xDA:
                stripped += frame[pos:]
                break
            seg_len = struct.unpack(">H", frame[pos + 2 : pos + 4])[0]
            if marker != 0xC4:  # drop DHT
                stripped += frame[pos : pos + 2 + seg_len]
            pos += 2 + seg_len
        stripped = bytes(stripped)
        assert b"\xff\xc4" not in stripped[: stripped.find(b"\xff\xda")]
        avi = encode_avi_mjpeg(16, 8, [stripped])
        _, _, _, got = decode_avi_mjpeg(avi)
        dw, dh, ch, px = decode_jpeg(got[0])
        assert np.frombuffer(px, np.uint8).max() == 200

    def test_not_an_avi(self):
        with pytest.raises(AviError, match="RIFF"):
            decode_avi_mjpeg(b"RIFFxxxxWAVE")

    def test_non_mjpeg_codec_rejected(self):
        avi = bytearray(encode_avi_mjpeg(16, 8, [_gray_frame(1)]))
        at = bytes(avi).index(b"MJPG", bytes(avi).index(b"strf"))
        avi[at : at + 4] = b"H264"
        with pytest.raises(AviError, match="unsupported AVI video codec"):
            decode_avi_mjpeg(bytes(avi))

    def test_truncations_raise_avierror(self):
        avi = encode_avi_mjpeg(16, 8, [_gray_frame(9), _gray_frame(30)])
        for cut in range(8, len(avi), 31):
            try:
                decode_avi_mjpeg(avi[:cut])
            except AviError:
                pass  # never a raw struct.error / IndexError

    def test_video_decoder_features(self):
        frames = [_gray_frame(v) for v in (0, 51, 102, 153, 204, 255)]
        avi = encode_avi_mjpeg(16, 8, frames, us_per_frame=40000)
        n, w, h, dur, feats = avi_video_decoder(avi, frame_stride=2)
        assert (n, w, h) == (6, 16, 8)
        assert dur == (40000 * 6) // 1000
        assert feats == pytest.approx([0.0, 102 / 255, 204 / 255], abs=0)


class TestSparkIntegration:
    def test_extract_video_features_stdlib_default(self, spark):
        from ndr_import_spark.operators import multimodal as MM

        rows = []
        for i in range(6):
            frames = [_gray_frame((i * 40 + j * 10) % 256) for j in range(3)]
            payload = encode_avi_mjpeg(16, 8, frames, us_per_frame=33000)
            rows.append((i, "video", "video/avi", 16, 8, 99,
                         bytearray(payload)))
        media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA).coalesce(2)
        got = {r["media_id"]: r for r in MM.extract_video_features(media).collect()}
        assert len(got) == 6
        for i in range(6):
            r = got[i]
            assert r["n_frames"] == 3 and (r["width"], r["height"]) == (16, 8)
            exp = [((i * 40 + j * 10) % 256) / 255.0 for j in range(3)]
            assert r["feature"] == pytest.approx(exp, abs=0)

    def test_injected_video_decoder_wins(self, spark):
        from ndr_import_spark.operators import multimodal as MM

        media = spark.createDataFrame(
            [(0, "video", "video/fake", None, None, None, bytearray(b"xx"))],
            MM.MEDIA_SCHEMA,
        )
        row = MM.extract_video_features(
            media, decoder=lambda b: (1, 2, 3, 4, [0.5])
        ).collect()[0]
        assert (row["n_frames"], row["width"], row["height"]) == (1, 2, 3)


class TestReviewRegressions:
    """Pins for the round-5 code-review findings."""

    def _chunk(self, cid, body):
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    def _lst(self, ltype, body):
        return self._chunk(b"LIST", ltype + body)

    def test_rec_sublists_keep_frame_order(self, spark=None):
        # movi = [rec[f0, f1], f2] and [rec[f0], rec[f1], f2] must decode
        # in stream order, not with the rec contents deferred/reversed
        frames = [_gray_frame(v) for v in (10, 20, 30)]
        base = encode_avi_mjpeg(16, 8, frames)
        hdrl_end = base.index(b"LIST", base.index(b"movi") - 8)
        prefix = base[:hdrl_end]

        def rebuild(movi_body):
            return prefix + self._lst(b"movi", movi_body)

        f = [self._chunk(b"00dc", fr) for fr in frames]
        for movi_body in (
            self._lst(b"rec ", f[0] + f[1]) + f[2],
            self._lst(b"rec ", f[0]) + self._lst(b"rec ", f[1]) + f[2],
        ):
            data = rebuild(movi_body)
            # fix the outer RIFF size
            data = data[:4] + struct.pack("<I", len(data) - 8) + data[8:]
            _, _, _, got = decode_avi_mjpeg(data)
            vals = []
            for fr in got:
                _, _, _, px = decode_jpeg(fr)
                vals.append(px[0])
            assert vals == [10, 20, 30], vals

    def test_audio_first_stream_does_not_shadow_video_codec(self):
        # an audio strl BEFORE the video strl: its WAVEFORMATEX-shaped
        # strf must not be read as the video compression fourcc
        frames = [_gray_frame(77)]
        avih = struct.pack(
            "<IIIIIIIIII4I", 40000, 0, 0, 0x10, 1, 0, 2, 0, 16, 8,
            0, 0, 0, 0,
        )
        auds_strh = b"auds" + b"\x00" * 52
        # WAVEFORMATEX with cbSize + extra bytes (>= 20 bytes total)
        auds_strf = struct.pack("<HHIIHHH", 0x55, 1, 8000, 8000, 1, 16, 12) + b"JUNKJUNKJUNK"
        vids_strh = b"vids" + b"MJPG" + b"\x00" * 48
        vids_strf = struct.pack(
            "<IiiHH4sIiiII", 40, 16, 8, 1, 24, b"MJPG", 16 * 8 * 3, 0, 0, 0, 0
        )
        hdrl = self._lst(
            b"hdrl",
            self._chunk(b"avih", avih)
            + self._lst(b"strl", self._chunk(b"strh", auds_strh) + self._chunk(b"strf", auds_strf))
            + self._lst(b"strl", self._chunk(b"strh", vids_strh) + self._chunk(b"strf", vids_strf)),
        )
        movi = self._lst(b"movi", self._chunk(b"00dc", frames[0]))
        body = b"AVI " + hdrl + movi
        data = b"RIFF" + struct.pack("<I", len(body)) + body
        w, h, uspf, got = decode_avi_mjpeg(data)  # must NOT raise
        assert len(got) == 1

    def test_dht_false_positive_bytes_still_get_tables(self):
        # a frame whose APPn payload contains FF C4 but has NO real DHT
        # must still receive the Annex K splice
        frame = _gray_frame(150)
        # strip real DHTs (as in the earlier test)
        stripped = bytearray(frame[:2])
        pos = 2
        while pos + 4 <= len(frame):
            marker = frame[pos + 1]
            if marker == 0xDA:
                stripped += frame[pos:]
                break
            seg_len = struct.unpack(">H", frame[pos + 2 : pos + 4])[0]
            if marker != 0xC4:
                stripped += frame[pos : pos + 2 + seg_len]
            pos += 2 + seg_len
        # inject an APP7 whose payload contains the FF C4 byte pair
        app = b"\xff\xe7" + struct.pack(">H", 6) + b"\xff\xc4\x00\x00"
        poisoned = bytes(stripped[:2]) + app + bytes(stripped[2:])
        avi = encode_avi_mjpeg(16, 8, [poisoned])
        _, _, _, got = decode_avi_mjpeg(avi)
        _, _, _, px = decode_jpeg(got[0])  # decodes because tables spliced
        assert px[0] == 150

    def test_frame_stride_validation(self):
        avi = encode_avi_mjpeg(16, 8, [_gray_frame(1)])
        with pytest.raises(AviError, match="frame_stride"):
            avi_video_decoder(avi, frame_stride=0)

    def test_encode_wav_riff_size_includes_pad(self):
        from ndr_import_spark.functions.wav import encode_wav

        data = encode_wav(8000, np.zeros(5), bits=8)  # odd data chunk
        (riff_size,) = struct.unpack("<I", data[4:8])
        assert riff_size == len(data) - 8  # pad byte accounted for
