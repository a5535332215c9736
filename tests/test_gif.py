"""Stdlib GIF decoder (functions/gif.py) + multimodal wiring.

Round-trips go through the module's own spec-valid encoder; interlacing,
transparency, sub-frame compositing and error paths are pinned with
hand-built byte streams.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ndr_import_spark.functions.gif import (
    GifError,
    decode_gif,
    encode_gif,
    is_gif,
)
from ndr_import_spark.functions.png import grid_features


def _quilt(w, h, ncolours=4):
    palette = np.array(
        [[255, 0, 0], [0, 255, 0], [0, 0, 255], [200, 200, 0],
         [0, 200, 200], [50, 50, 50]][:ncolours],
        np.uint8,
    )
    idx = (np.add.outer(np.arange(h), np.arange(w))) % ncolours
    return palette[idx]


class TestCodec:
    def test_roundtrip_exact(self):
        img = _quilt(13, 9)
        data = encode_gif(13, 9, img.tobytes())
        assert is_gif(data)
        w, h, ch, px = decode_gif(data)
        assert (w, h, ch) == (13, 9, 3)
        assert np.array_equal(np.frombuffer(px, np.uint8).reshape(9, 13, 3), img)

    def test_single_colour_and_max_palette(self):
        solid = np.tile(np.array([7, 77, 177], np.uint8), (5, 6, 1))
        w, h, ch, px = decode_gif(encode_gif(6, 5, solid.tobytes()))
        assert np.array_equal(np.frombuffer(px, np.uint8).reshape(5, 6, 3), solid)
        # 256 distinct colours: full 8-bit table
        grad = np.zeros((16, 16, 3), np.uint8)
        grad[:, :, 0] = np.arange(256, dtype=np.uint8).reshape(16, 16)
        grad[:, :, 1] = 255 - grad[:, :, 0]
        w, h, ch, px = decode_gif(encode_gif(16, 16, grad.tobytes()))
        assert np.array_equal(np.frombuffer(px, np.uint8).reshape(16, 16, 3), grad)

    def test_interlaced_frame(self):
        # take an encoded stream, flag it interlaced, and reorder rows
        # into the four-pass physical order the flag implies
        img = _quilt(4, 8)
        data = bytearray(encode_gif(4, 8, img.tobytes()))
        # descriptor sits right after header(13) + GCT; find 0x2C
        gct_n = 2 << (data[10] & 0x07)
        desc = 13 + 3 * gct_n
        assert data[desc] == 0x2C
        data[desc + 9] |= 0x40  # interlace flag
        # physical row order for height 8: 0,8.. / 4 / 2,6 / 1,3,5,7
        order = [0, 4, 2, 6, 1, 3, 5, 7]
        # re-encode pixel indices in that row order via a fresh encode of
        # the permuted image, then splice its data blocks in
        permuted = img[order]
        src = encode_gif(4, 8, permuted.tobytes())
        spliced = bytes(data[: desc + 10]) + src[desc + 10 :]
        w, h, ch, px = decode_gif(spliced)
        got = np.frombuffer(px, np.uint8).reshape(8, 4, 3)
        assert np.array_equal(got, img)

    def test_transparent_pixels_render_black(self):
        img = _quilt(6, 4)
        data = encode_gif(6, 4, img.tobytes())
        # inject a GCE marking palette index 0 transparent
        gce = bytes([0x21, 0xF9, 0x04, 0x01, 0x00, 0x00, 0x00, 0x00])
        gct_n = 2 << (data[10] & 0x07)
        desc = 13 + 3 * gct_n
        with_gce = data[:desc] + gce + data[desc:]
        w, h, ch, px = decode_gif(with_gce)
        got = np.frombuffer(px, np.uint8).reshape(4, 6, 3)
        # index 0 was the first distinct colour -> those pixels now black
        mask = (img == img.reshape(-1, 3)[np.lexsort(img.reshape(-1, 3).T[::-1])][0]).all(axis=2)
        assert (got[mask] == 0).all()
        assert np.array_equal(got[~mask], img[~mask])

    def test_subframe_composites_on_canvas(self):
        img = _quilt(4, 3)
        data = bytearray(encode_gif(4, 3, img.tobytes()))
        gct_n = 2 << (data[10] & 0x07)
        desc = 13 + 3 * gct_n
        # enlarge logical screen to 8x5, offset frame to (2,1)
        data[6:10] = struct.pack("<HH", 8, 5)
        data[desc + 1 : desc + 5] = struct.pack("<HH", 2, 1)
        w, h, ch, px = decode_gif(bytes(data))
        got = np.frombuffer(px, np.uint8).reshape(5, 8, 3)
        assert (w, h) == (8, 5)
        assert np.array_equal(got[1:4, 2:6], img)
        assert (got[0] == 0).all() and (got[:, 0] == 0).all()

    def test_animated_gif_first_frame(self):
        a = _quilt(5, 4, 3)
        b = np.roll(a, 1, axis=0)
        da, db = encode_gif(5, 4, a.tobytes()), encode_gif(5, 4, b.tobytes())
        gct_n = 2 << (da[10] & 0x07)
        desc = 13 + 3 * gct_n
        # splice frame B's descriptor+data before A's trailer
        animated = da[:-1] + db[desc:-1] + b"\x3b"
        w, h, ch, px = decode_gif(animated)
        assert np.array_equal(np.frombuffer(px, np.uint8).reshape(4, 5, 3), a)


class TestErrors:
    def test_not_a_gif(self):
        with pytest.raises(GifError, match="signature"):
            decode_gif(b"\x89PNG\r\n\x1a\n")

    def test_no_image_descriptor(self):
        data = encode_gif(3, 3, _quilt(3, 3).tobytes())
        gct_n = 2 << (data[10] & 0x07)
        truncated = data[: 13 + 3 * gct_n] + b"\x3b"
        with pytest.raises(GifError, match="no image"):
            decode_gif(truncated)

    def test_truncated_data(self):
        data = encode_gif(9, 9, _quilt(9, 9).tobytes())
        with pytest.raises(GifError):
            decode_gif(data[: len(data) - 8])

    def test_truncation_never_leaks_raw_valueerror(self):
        # every prefix must raise GifError (or decode, for long-enough
        # prefixes) — a GCT cut mid-table used to escape as a numpy
        # reshape ValueError
        data = encode_gif(9, 9, _quilt(9, 9, 5).tobytes())
        for cut in range(6, len(data)):
            try:
                decode_gif(data[:cut])
            except GifError:
                pass

    def test_too_many_colours_encoder(self):
        i = np.arange(400)
        img = np.stack([i % 256, i // 256 * 50, np.zeros(400, int)], axis=1)
        with pytest.raises(GifError, match="<=256"):
            encode_gif(20, 20, img.astype(np.uint8).tobytes())

    def test_decoder_hook_shape(self):
        img = _quilt(8, 8)
        w, h, ch, px = decode_gif(encode_gif(8, 8, img.tobytes()))
        feats = grid_features(w, h, ch, px)
        assert (w, h) == (8, 8) and len(feats) == 16


class TestQuantizedResize:
    def test_canvas_black_past_256_colours_still_resizes(self):
        # full 256-colour palette (no black) + sub-frame compositing:
        # the decoded canvas holds 257 distinct colours, which used to
        # kill the GIF->GIF re-encode; the quantised fallback must fit
        import struct as _s

        from ndr_import_spark.operators.multimodal import _encode_gif_quantized

        grad = np.zeros((16, 16, 3), np.uint8)
        grad[:, :, 0] = np.arange(256, dtype=np.uint8).reshape(16, 16)
        grad[:, :, 1] = 200  # keep every colour non-black
        grad[:, :, 2] = 100
        data = bytearray(encode_gif(16, 16, grad.tobytes()))
        gct_n = 2 << (data[10] & 0x07)
        desc = 13 + 3 * gct_n
        data[6:10] = _s.pack("<HH", 20, 20)  # larger canvas -> black border
        canvas = decode_gif(bytes(data))
        px = np.frombuffer(canvas[3], np.uint8).reshape(20, 20, 3)
        assert len(np.unique(px.reshape(-1, 3), axis=0)) == 257
        out = _encode_gif_quantized(20, 20, canvas[3])
        w, h, ch, rpx = decode_gif(out)
        assert (w, h) == (20, 20)
        got = np.frombuffer(rpx, np.uint8).reshape(20, 20, 3).astype(int)
        # 6-bit quantisation bounds the per-channel error to 3
        assert np.abs(got - px.astype(int)).max() <= 3

    def test_full_colour_path_untouched_when_it_fits(self):
        from ndr_import_spark.operators.multimodal import _encode_gif_quantized

        img = _quilt(7, 5)
        out = _encode_gif_quantized(7, 5, img.tobytes())
        _, _, _, px = decode_gif(out)
        assert np.array_equal(np.frombuffer(px, np.uint8).reshape(5, 7, 3), img)


class TestSparkIntegration:
    def test_gif_features_and_resize(self, spark):
        from ndr_import_spark.operators import multimodal as MM

        img = _quilt(10, 8)
        payload = encode_gif(10, 8, img.tobytes())
        media = spark.createDataFrame(
            [(1, "image", "image/gif", None, None, None, bytearray(payload))],
            MM.MEDIA_SCHEMA,
        )
        row = MM.extract_features(media).collect()[0]
        assert (row["width"], row["height"]) == (10, 8)
        assert len(row["feature"]) == 16
        out = MM.resize_images(media, 5, 4).collect()[0]
        assert is_gif(bytes(out["payload"]))
        w, h, ch, px = decode_gif(bytes(out["payload"]))
        assert (w, h) == (5, 4)


class TestAnimation:
    """decode_gif_frames: GCE delays, disposal 2/3, transparency
    compositing over the underlying canvas, encoder round-trip."""

    def _anim(self, frames_spec, sw=4, sh=4):
        # hand-assemble: frames_spec = [(delay, disposal, rect, color_idx,
        # transparent_idx)] over a 3-colour GCT
        import struct as st

        import numpy as np

        from ndr_import_spark.functions.gif import _lzw_emit

        out = bytearray(b"GIF89a")
        out += st.pack("<HHBBB", sw, sh, 0x80 | 1, 0, 0)  # 4-entry GCT
        gct = bytes([250, 0, 0, 0, 250, 0, 0, 0, 250, 9, 9, 9])
        out += gct
        for delay, disposal, (ix, iy, iw, ih), cidx, tidx in frames_spec:
            flags = (disposal << 2) | (1 if tidx is not None else 0)
            out += b"\x21\xf9\x04" + bytes([flags]) + st.pack("<H", delay) \
                + bytes([tidx if tidx is not None else 0, 0])
            out += st.pack("<BHHHHB", 0x2C, ix, iy, iw, ih, 0)
            idx = np.full(iw * ih, cidx, dtype=np.uint8)
            out += _lzw_emit(idx, 2)
        out += b"\x3b"
        return bytes(out)

    def test_disposal_2_clears_rect(self):
        from ndr_import_spark.functions.gif import decode_gif_frames

        g = self._anim([
            (5, 2, (0, 0, 4, 4), 0, None),   # full red, then clear
            (7, 0, (1, 1, 2, 2), 1, None),   # green 2x2 at (1,1)
        ])
        _, _, frames = decode_gif_frames(g)
        assert frames[0][0] == 5 and frames[1][0] == 7
        f0 = frames[0][1]
        assert f0[:3] == bytes([250, 0, 0])  # full red visible
        f1 = frames[1][1]
        assert f1[:3] == b"\x00\x00\x00"     # cleared corner
        # pixel (1,1) is green
        off = (1 * 4 + 1) * 3
        assert f1[off:off + 3] == bytes([0, 250, 0])

    def test_disposal_3_restores_previous(self):
        from ndr_import_spark.functions.gif import decode_gif_frames

        g = self._anim([
            (1, 1, (0, 0, 4, 4), 0, None),   # full red, keep
            (1, 3, (0, 0, 2, 2), 1, None),   # green corner, then restore
            (1, 0, (2, 2, 2, 2), 2, None),   # blue corner bottom-right
        ])
        _, _, frames = decode_gif_frames(g)
        f2 = frames[2][1]
        assert f2[:3] == bytes([250, 0, 0])  # top-left back to red
        off = (2 * 4 + 2) * 3
        assert f2[off:off + 3] == bytes([0, 0, 250])  # blue rect present

    def test_transparency_composites_over_underlying(self):
        from ndr_import_spark.functions.gif import decode_gif_frames

        g = self._anim([
            (1, 1, (0, 0, 4, 4), 0, None),   # full red
            (1, 0, (0, 0, 4, 4), 1, 1),      # "green" frame, all transparent
        ])
        _, _, frames = decode_gif_frames(g)
        assert frames[1][1][:3] == bytes([250, 0, 0])  # red shows through

    def test_encoder_roundtrip_and_max_frames(self):
        from ndr_import_spark.functions.gif import (
            decode_gif_frames,
            encode_gif_animation,
        )

        frames = [(i + 1, bytes([i * 40, 255 - i * 40, 7]) * 36)
                  for i in range(5)]
        g = encode_gif_animation(6, 6, frames, loop=3)
        sw, sh, dec = decode_gif_frames(g)
        assert (sw, sh) == (6, 6)
        assert dec == frames
        _, _, two = decode_gif_frames(g, max_frames=2)
        assert len(two) == 2 and two == frames[:2]

    def test_first_frame_contract_unchanged(self):
        from ndr_import_spark.functions.gif import (
            decode_gif,
            encode_gif_animation,
        )

        frames = [(4, bytes([9, 9, 9]) * 16), (4, bytes([200, 0, 0]) * 16)]
        w, h, ch, px = decode_gif(encode_gif_animation(4, 4, frames))
        assert (w, h, ch, px) == (4, 4, 3, frames[0][1])
