"""iter_webp_frames / build_anmf_chunk / webp_frame_table edges (r9)."""

from __future__ import annotations

import hashlib

import pytest

from ndr_import_spark.functions.webp import (
    WebpError,
    build_anmf_chunk,
    build_vp8x_header,
    build_webp_container,
    encode_webp,
    iter_webp_frames,
)


def _vp8l_chunk(rgb: bytes, w: int = 4, h: int = 4) -> bytes:
    from ndr_import_spark.functions.webp import _walk_riff_chunks

    f = encode_webp(w, h, rgb)
    for cc, pos, size in _walk_riff_chunks(f):
        if cc == b"VP8L":
            return f[pos + 8:pos + 8 + size]
    raise AssertionError


GREY = bytes(v for px in hashlib.md5(b"fr").digest()[:16] for v in (px,) * 3)


def _anim(frames):
    return build_webp_container(
        [(b"VP8X", build_vp8x_header(4, 4, animation=True))]
        + [(b"ANMF", f) for f in frames]
    )


class TestIterFrames:
    def test_animation_frame_geometry_and_order(self):
        chunk = _vp8l_chunk(GREY)
        anim = _anim([
            build_anmf_chunk(0, 0, 4, 4, 100, chunk, b"VP8L"),
            build_anmf_chunk(2, 4, 4, 4, 250, chunk, b"VP8L"),
        ])
        frames = list(iter_webp_frames(anim))
        assert [f["frame_ix"] for f in frames] == [0, 1]
        assert frames[1]["x"] == 2 and frames[1]["y"] == 4
        assert [f["duration_ms"] for f in frames] == [100, 250]
        assert all(f["codec"] == "vp8l" for f in frames)

    def test_still_image_yields_single_synthetic_frame(self):
        still = encode_webp(4, 4, GREY)
        (f,) = iter_webp_frames(still)
        assert (f["frame_ix"], f["x"], f["y"]) == (0, 0, 0)
        assert (f["width"], f["height"], f["duration_ms"]) == (4, 4, 0)

    def test_odd_offset_rejected_at_build_time(self):
        with pytest.raises(WebpError):
            build_anmf_chunk(1, 0, 4, 4, 10, b"x", b"VP8L")

    def test_truncated_anmf_header_raises(self):
        bad = _anim([b"\x00" * 10])
        with pytest.raises(WebpError):
            list(iter_webp_frames(bad))

    def test_truncated_frame_payload_raises(self):
        chunk = _vp8l_chunk(GREY)
        body = build_anmf_chunk(0, 0, 4, 4, 10, chunk, b"VP8L")
        # lie about the sub-chunk size
        bad = _anim([body[:20] + (len(chunk) + 99).to_bytes(4, "little")
                     + body[24:]])
        with pytest.raises(WebpError):
            list(iter_webp_frames(bad))

    def test_unknown_subchunk_raises(self):
        body = build_anmf_chunk(0, 0, 4, 4, 10, b"zz", b"ALPH")
        with pytest.raises(WebpError):
            list(iter_webp_frames(_anim([body])))

    def test_not_webp_raises(self):
        with pytest.raises(WebpError):
            list(iter_webp_frames(b"\x89PNG\r\n\x1a\n"))

    def test_leading_alph_subchunk_skipped_to_bitstream(self):
        """The container spec places an optional ALPH chunk BEFORE the
        bitstream chunk inside an ANMF frame (lossy-with-alpha
        animation); r9 raised 'unsupported ANMF sub-chunk' on every
        such frame (r10 ADVICE). The ALPH body is now carried through
        on the frame dict."""
        chunk = _vp8l_chunk(GREY)
        alph = b"\x00" + bytes(range(16))  # raw-compression ALPH, 4x4
        anim = _anim([
            build_anmf_chunk(0, 0, 4, 4, 40, chunk, b"VP8L", alph=alph),
            build_anmf_chunk(0, 0, 4, 4, 60, chunk, b"VP8L"),
        ])
        frames = list(iter_webp_frames(anim))
        assert [f["frame_ix"] for f in frames] == [0, 1]
        assert frames[0]["alph"] == alph and frames[1]["alph"] is None
        assert frames[0]["codec"] == "vp8l"
        # odd-sized ALPH bodies are padded in the container
        odd = b"\x00" + bytes(15)
        (f,) = iter_webp_frames(_anim([
            build_anmf_chunk(0, 0, 4, 4, 40, chunk, b"VP8L", alph=odd)]))
        assert f["alph"] == odd

    def test_dispose_blend_flags_roundtrip(self):
        chunk = _vp8l_chunk(GREY)
        anim = _anim([
            build_anmf_chunk(0, 0, 4, 4, 10, chunk, b"VP8L",
                             dispose=1, blend=1),
            build_anmf_chunk(0, 0, 4, 4, 10, chunk, b"VP8L"),
        ])
        frames = list(iter_webp_frames(anim))
        assert (frames[0]["dispose"], frames[0]["blend"]) == (1, 1)
        assert (frames[1]["dispose"], frames[1]["blend"]) == (0, 0)


class TestFrameTable:
    def test_dedup_by_decoded_pixels_across_animations(self, spark):
        """Identical frame content in two different animations produces
        the same pixel_md5 — digest-level dedup crosses file
        boundaries."""
        from ndr_import_spark.operators.multimodal import webp_frame_table

        chunk = _vp8l_chunk(GREY)
        a = _anim([build_anmf_chunk(0, 0, 4, 4, 10, chunk, b"VP8L")])
        other = _vp8l_chunk(bytes(48))
        b = _anim([
            build_anmf_chunk(0, 0, 4, 4, 10, chunk, b"VP8L"),
            build_anmf_chunk(0, 0, 4, 4, 10, other, b"VP8L"),
        ])
        df = spark.createDataFrame(
            [(0, bytearray(a)), (1, bytearray(b))],
            "media_id long, payload binary",
        )
        rows = webp_frame_table(df).collect()
        by = {(r.media_id, r.frame_ix): r for r in rows}
        assert len(rows) == 3
        assert by[(0, 0)].pixel_md5 == by[(1, 0)].pixel_md5
        assert by[(1, 1)].pixel_md5 != by[(1, 0)].pixel_md5

    def test_per_payload_error_isolation(self, spark):
        """One malformed animation must not fail the whole task: it
        yields a quarantine row (codec='error', null digest) while the
        good payload in the same batch still decodes (r10 ADVICE)."""
        from ndr_import_spark.operators.multimodal import webp_frame_table

        chunk = _vp8l_chunk(GREY)
        good = _anim([build_anmf_chunk(0, 0, 4, 4, 10, chunk, b"VP8L")])
        bad = _anim([b"\x00" * 10])  # truncated ANMF header
        df = spark.createDataFrame(
            [(0, bytearray(good)), (1, bytearray(bad))],
            "media_id long, payload binary",
        )
        rows = {r.media_id: r for r in webp_frame_table(df).collect()}
        assert len(rows) == 2
        assert rows[0].codec == "vp8l" and rows[0].pixel_md5
        assert rows[1].codec == "error" and rows[1].pixel_md5 is None
        assert rows[1].frame_ix == -1

    def test_null_payload_yields_error_row(self, spark):
        """A null payload (a failed fetch) gets the same quarantine row
        as a malformed animation instead of failing the task with a
        TypeError."""
        from ndr_import_spark.operators.multimodal import webp_frame_table

        chunk = _vp8l_chunk(GREY)
        good = _anim([build_anmf_chunk(0, 0, 4, 4, 10, chunk, b"VP8L")])
        df = spark.createDataFrame(
            [(0, bytearray(good)), (1, None)],
            "media_id long, payload binary",
        )
        rows = {r.media_id: r for r in webp_frame_table(df).collect()}
        assert rows[0].codec == "vp8l" and rows[0].pixel_md5
        assert (rows[1].frame_ix, rows[1].codec) == (-1, "error")
        assert rows[1].pixel_md5 is None
