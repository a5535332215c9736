"""Animated-WebP canvas compositing (functions/webp.
composite_webp_frames + operators/multimodal.webp_canvas_table, r10).

The per-frame codec decodes are already pinned elsewhere (VP8 vs
libwebp byte-parity in test_vp8.py; the VP8L suite in test_webp.py);
what this file gates is the COMPOSITING arithmetic — blend/dispose/
offset semantics — via analytic cases whose expected canvases are
closed-form: opaque source == source, alpha-0 source == destination,
and the exact integer lerp (Sc*Sa + Dc*(255-Sa)) // 255 over an opaque
base. The container ships no libwebpdemux, so WebPAnimDecoder parity is
an auto-activating env-gate (the avro-jar posture)."""

from __future__ import annotations

import ctypes.util

import numpy as np
import pytest

from ndr_import_spark.functions.webp import (
    build_anmf_chunk,
    build_vp8x_header,
    build_webp_container,
    composite_webp_frames,
    decode_vp8l,
    encode_vp8l_chunk,
    encode_webp,
)


def _anim(frames, w=8, h=8):
    return build_webp_container(
        [(b"VP8X", build_vp8x_header(w, h, animation=True))]
        + [(b"ANMF", f) for f in frames]
    )


def _canvas(data):
    return [
        np.frombuffer(f["canvas"], dtype=np.uint8).reshape(8, 8, 4)
        for f in composite_webp_frames(data)
    ]


def _solid(w, h, rgba):
    return encode_vp8l_chunk(w, h, bytes(rgba) * (w * h))


BASE = (40, 80, 120, 255)


class TestEncodeVp8lChunk:
    def test_alpha_literals_roundtrip(self):
        rgba = bytes(
            (i * 7) % 256 for i in range(4 * 4 * 4)
        )
        chunk = encode_vp8l_chunk(4, 4, rgba)
        w, h, ch, px = decode_vp8l(chunk)
        assert (w, h, ch) == (4, 4, 4)
        assert px == rgba

    def test_length_check(self):
        with pytest.raises(Exception, match="rgba length"):
            encode_vp8l_chunk(4, 4, b"\x00" * 10)


class TestCompositing:
    def test_first_frame_fills_canvas(self):
        data = _anim([build_anmf_chunk(
            0, 0, 8, 8, 10, _solid(8, 8, BASE), b"VP8L", blend=1)])
        (c,) = _canvas(data)
        assert (c == np.array(BASE)).all()

    def test_opaque_blend_equals_source(self):
        over = (200, 10, 10, 255)
        data = _anim([
            build_anmf_chunk(0, 0, 8, 8, 10, _solid(8, 8, BASE),
                             b"VP8L", blend=1),
            build_anmf_chunk(2, 2, 4, 4, 10, _solid(4, 4, over),
                             b"VP8L", blend=0),
        ])
        c = _canvas(data)[1]
        assert (c[2:6, 2:6] == np.array(over)).all()
        assert (c[0, 0] == np.array(BASE)).all()

    def test_alpha_zero_blend_keeps_destination(self):
        over = (200, 10, 10, 0)
        data = _anim([
            build_anmf_chunk(0, 0, 8, 8, 10, _solid(8, 8, BASE),
                             b"VP8L", blend=1),
            build_anmf_chunk(2, 2, 4, 4, 10, _solid(4, 4, over),
                             b"VP8L", blend=0),
        ])
        c = _canvas(data)[1]
        assert (c[2:6, 2:6] == np.array(BASE)).all()

    def test_semi_transparent_blend_is_exact_integer_lerp(self):
        over = (200, 10, 10, 100)
        data = _anim([
            build_anmf_chunk(0, 0, 8, 8, 10, _solid(8, 8, BASE),
                             b"VP8L", blend=1),
            build_anmf_chunk(2, 2, 4, 4, 10, _solid(4, 4, over),
                             b"VP8L", blend=0),
        ])
        c = _canvas(data)[1]
        want = [(s * 100 + d * 155) // 255 for s, d in
                zip(over[:3], BASE[:3])] + [255]
        assert (c[2:6, 2:6] == np.array(want)).all()

    def test_overwrite_keeps_source_alpha(self):
        over = (200, 10, 10, 100)
        data = _anim([
            build_anmf_chunk(0, 0, 8, 8, 10, _solid(8, 8, BASE),
                             b"VP8L", blend=1),
            build_anmf_chunk(2, 2, 4, 4, 10, _solid(4, 4, over),
                             b"VP8L", blend=1),
        ])
        c = _canvas(data)[1]
        assert (c[2:6, 2:6] == np.array(over)).all()

    def test_dispose_clears_rect_for_next_frame_only(self):
        over = (200, 10, 10, 255)
        data = _anim([
            build_anmf_chunk(0, 0, 8, 8, 10, _solid(8, 8, BASE),
                             b"VP8L", blend=1),
            build_anmf_chunk(2, 2, 4, 4, 10, _solid(4, 4, over),
                             b"VP8L", blend=0, dispose=1),
            build_anmf_chunk(0, 0, 2, 2, 10, _solid(2, 2, (1, 2, 3, 255)),
                             b"VP8L", blend=0),
        ])
        c1, c2 = _canvas(data)[1:]
        # frame 2's own canvas still shows the overlay (dispose is
        # applied AFTER the frame is shown)...
        assert (c1[2:6, 2:6] == np.array(over)).all()
        # ...and frame 3's canvas has the rect cleared to transparent
        assert (c2[2:6, 2:6] == 0).all()
        assert (c2[0:2, 0:2] == np.array((1, 2, 3, 255))).all()
        assert (c2[7, 7] == np.array(BASE)).all()

    def test_blend_onto_transparent_canvas(self):
        """First frame smaller than the canvas with blend=0: the spec
        formula against a fully-transparent destination yields the
        source (denom = 255*Sa)."""
        over = (200, 10, 10, 100)
        data = _anim([build_anmf_chunk(
            2, 2, 4, 4, 10, _solid(4, 4, over), b"VP8L", blend=0)])
        (c,) = _canvas(data)
        assert (c[2:6, 2:6] == np.array(over)).all()
        assert (c[0, 0] == 0).all()

    def test_lossy_frame_with_alph_composites(self):
        """A VP8 lossy frame (luma-gray contract) with a raw-compression
        ALPH chunk: alpha flows into the blend."""
        from ndr_import_spark.functions.webp import _walk_riff_chunks

        # encode an 8x8 lossy frame via libwebp (test-only fixture
        # encoder, as in test_vp8.py) — fall back to skip if absent
        try:
            lib = ctypes.CDLL("libwebp.so.7")
        except OSError:
            pytest.skip("libwebp not present for lossy fixture")
        lib.WebPEncodeRGB.restype = ctypes.c_size_t
        lib.WebPEncodeRGB.argtypes = [
            ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
            ctypes.c_float, ctypes.POINTER(ctypes.c_void_p),
        ]
        out = ctypes.c_void_p()
        n = lib.WebPEncodeRGB(b"\x80" * (8 * 8 * 3), 8, 8, 24,
                              ctypes.c_float(90.0), ctypes.byref(out))
        still = ctypes.string_at(out.value, n)
        vp8 = None
        for cc, pos, size in _walk_riff_chunks(still):
            if cc == b"VP8 ":
                vp8 = still[pos + 8:pos + 8 + size]
        assert vp8
        alph = b"\x00" + bytes([128]) * 64  # raw, uniform alpha 128
        data = _anim([
            build_anmf_chunk(0, 0, 8, 8, 10, _solid(8, 8, BASE),
                             b"VP8L", blend=1),
            build_anmf_chunk(0, 0, 8, 8, 10, vp8, b"VP8 ",
                             blend=0, alph=alph),
        ])
        c = _canvas(data)[1]
        assert (c[:, :, 3] == 255).all()  # blend over opaque
        # gray luma ~0x80 lerped at alpha 128 over BASE
        y = int(c[4, 4, 0])
        assert abs(y - (0x80 * 128 + BASE[0] * 127) // 255) <= 4

    def test_frame_exceeding_canvas_raises(self):
        from ndr_import_spark.functions.webp import WebpError

        data = _anim([build_anmf_chunk(
            4, 4, 8, 8, 10, _solid(8, 8, BASE), b"VP8L", blend=1)])
        with pytest.raises(WebpError, match="exceeds the canvas"):
            list(composite_webp_frames(data))

    @pytest.mark.parametrize("vw,vh", [(2, 2), (8, 8), (4, 2)])
    def test_vp8l_dims_disagree_with_anmf_raises_webperror(self, vw, vh):
        """ANMF says 4x4 but the embedded VP8L stream declares other
        dims (attacker-controlled): must raise WebpError — a numpy
        reshape ValueError escaped webp_canvas_table's isolation and
        failed the whole task (r10 ADVICE)."""
        from ndr_import_spark.functions.webp import WebpError

        data = _anim([build_anmf_chunk(
            0, 0, 4, 4, 10, _solid(vw, vh, BASE), b"VP8L", blend=1)])
        with pytest.raises(WebpError, match="disagree"):
            list(composite_webp_frames(data))

    def test_still_image_single_canvas(self):
        still = encode_webp(4, 4, bytes(BASE[:3]) * 16)
        frames = list(composite_webp_frames(still))
        assert len(frames) == 1
        c = np.frombuffer(frames[0]["canvas"], np.uint8).reshape(4, 4, 4)
        assert (c == np.array(BASE)).all()


@pytest.mark.skipif(
    ctypes.util.find_library("webpdemux") is None,
    reason="libwebpdemux absent (parity auto-activates where it ships)",
)
class TestAnimDecoderParity:
    """On machines with libwebpdemux: WebPAnimDecoder's composited RGBA
    must equal composite_webp_frames byte-for-byte over a randomized
    dispose/blend matrix of VP8L frames."""

    def test_randomized_dispose_blend_matrix(self):
        import ctypes as C
        import hashlib

        lib = C.CDLL(ctypes.util.find_library("webpdemux"))
        lib.WebPAnimDecoderNewInternal.restype = C.c_void_p
        for trial in range(12):
            d = hashlib.md5(f"parity{trial}".encode()).digest()
            frames = [build_anmf_chunk(
                0, 0, 8, 8, 10, _solid(8, 8, (d[0], d[1], d[2], 255)),
                b"VP8L", blend=1)]
            for k in range(3):
                rgba = (d[4 * k], d[4 * k + 1], d[4 * k + 2],
                        d[4 * k + 3])
                frames.append(build_anmf_chunk(
                    2, 2, 4, 4, 10, _solid(4, 4, rgba), b"VP8L",
                    blend=d[k] % 2, dispose=(d[k] >> 1) % 2))
            data = _anim(frames)
            ours = [f["canvas"] for f in composite_webp_frames(data)]

            class WebPData(C.Structure):
                _fields_ = [("bytes", C.c_char_p),
                            ("size", C.c_size_t)]

            wd = WebPData(data, len(data))
            dec = lib.WebPAnimDecoderNewInternal(
                C.byref(wd), None, 0x0108)
            assert dec
            buf = C.POINTER(C.c_uint8)()
            ts = C.c_int()
            got = []
            while lib.WebPAnimDecoderGetNext(
                    C.c_void_p(dec), C.byref(buf), C.byref(ts)):
                got.append(C.string_at(buf, 8 * 8 * 4))
            lib.WebPAnimDecoderDelete(C.c_void_p(dec))
            assert got == ours


class TestOperator:
    def test_webp_canvas_table_sums_and_isolation(self, spark):
        from ndr_import_spark.operators.multimodal import webp_canvas_table

        good = _anim([
            build_anmf_chunk(0, 0, 8, 8, 25, _solid(8, 8, BASE),
                             b"VP8L", blend=1),
            build_anmf_chunk(2, 2, 4, 4, 35, _solid(4, 4, (0, 0, 0, 0)),
                             b"VP8L", blend=0),
        ])
        bad = _anim([b"\x00" * 10])
        df = spark.createDataFrame(
            [(0, bytearray(good)), (1, bytearray(bad))],
            "media_id long, payload binary",
        )
        rows = sorted(webp_canvas_table(df).collect(),
                      key=lambda r: (r.media_id, r.frame_ix))
        assert [r.frame_ix for r in rows] == [0, 1, -1]
        # alpha-0 overlay leaves the canvas untouched: identical sums
        assert rows[0].sum_r == rows[1].sum_r == 64 * BASE[0]
        assert rows[0].canvas_md5 == rows[1].canvas_md5
        assert rows[2].canvas_md5 is None

    def test_null_payload_yields_error_row(self, spark):
        """A null payload (a failed fetch) gets the malformed-animation
        row instead of failing the task with a TypeError."""
        from ndr_import_spark.operators.multimodal import webp_canvas_table

        good = _anim([build_anmf_chunk(0, 0, 8, 8, 25, _solid(8, 8, BASE),
                                       b"VP8L")])
        df = spark.createDataFrame(
            [(0, bytearray(good)), (1, None)],
            "media_id long, payload binary",
        )
        rows = {r.media_id: r for r in webp_canvas_table(df).collect()}
        assert rows[0].frame_ix == 0 and rows[0].sum_r == 64 * BASE[0]
        assert rows[1].frame_ix == -1 and rows[1].canvas_md5 is None
