"""Stdlib PNG codec + real-bytes multimodal decode path.

The multimodal operator decodes genuine PNG payloads end-to-end through
mapInPandas with no injected decoder (functions/png.py); other formats
still require injection.
"""

from __future__ import annotations

import struct
import zlib

import pytest

from ndr_import_spark.functions.png import (
    PngError,
    decode_png,
    encode_png,
    grid_features,
    is_png,
)


def gradient_rgb(w: int, h: int) -> bytes:
    out = bytearray()
    for y in range(h):
        for x in range(w):
            out += bytes(((x * 37) % 256, (y * 53) % 256, (x * y) % 256))
    return bytes(out)


def refilter(raw_rows: list[bytes], ftype: int, channels: int) -> bytes:
    """Forward-apply a PNG filter so decode must invert it."""
    stride = len(raw_rows[0])
    prev = bytes(stride)
    out = bytearray()
    for row in raw_rows:
        filt = bytearray([ftype])
        for i in range(stride):
            left = row[i - channels] if i >= channels else 0
            up = prev[i]
            ul = prev[i - channels] if i >= channels else 0
            if ftype == 1:
                filt.append((row[i] - left) & 0xFF)
            elif ftype == 2:
                filt.append((row[i] - up) & 0xFF)
            elif ftype == 3:
                filt.append((row[i] - ((left + up) >> 1)) & 0xFF)
            elif ftype == 4:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                filt.append((row[i] - pred) & 0xFF)
            else:
                filt.append(row[i])
        out += filt
        prev = row
    return bytes(out)


def png_with_filter(w: int, h: int, rgb: bytes, ftype: int) -> bytes:
    """Re-pack encode_png output with a chosen scanline filter."""
    stride = w * 3
    rows = [rgb[y * stride:(y + 1) * stride] for y in range(h)]
    scan = refilter(rows, ftype, 3)
    sig = encode_png(w, h, rgb)
    # splice: reuse IHDR from the encoder, replace IDAT
    ihdr_end = 8 + 12 + 13
    idat = zlib.compress(scan)
    chunk = (
        struct.pack(">I", len(idat))
        + b"IDAT"
        + idat
        + struct.pack(">I", zlib.crc32(b"IDAT" + idat) & 0xFFFFFFFF)
    )
    iend = sig[-12:]
    return sig[:ihdr_end] + chunk + iend


class TestPngCodec:
    def test_roundtrip_filter0(self):
        rgb = gradient_rgb(8, 6)
        blob = encode_png(8, 6, rgb)
        assert is_png(blob)
        w, h, ch, px = decode_png(blob)
        assert (w, h, ch) == (8, 6, 3)
        assert px == rgb

    @pytest.mark.parametrize("ftype", [1, 2, 3, 4])
    def test_all_filters_invert(self, ftype):
        rgb = gradient_rgb(7, 5)
        blob = png_with_filter(7, 5, rgb, ftype)
        w, h, ch, px = decode_png(blob)
        assert px == rgb

    def test_grayscale(self):
        # hand-build a colour-type-0 PNG
        w, h = 4, 3
        grey = bytes((x * 17 + y * 29) % 256 for y in range(h) for x in range(w))
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)

        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
            )

        scan = b"".join(b"\x00" + grey[y * w:(y + 1) * w] for y in range(h))
        blob = (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(scan)) + chunk(b"IEND", b"")
        )
        got = decode_png(blob)
        assert got == (w, h, 1, grey)

    def test_rejects_garbage_and_interlace(self):
        with pytest.raises(PngError):
            decode_png(b"JFIF not a png")
        rgb = gradient_rgb(4, 4)
        blob = bytearray(encode_png(4, 4, rgb))
        blob[8 + 8 + 12] = 1  # IHDR interlace byte
        with pytest.raises(PngError):
            decode_png(bytes(blob))

    def test_grid_features_shape_and_range(self):
        rgb = gradient_rgb(16, 16)
        feats = grid_features(16, 16, 3, rgb)
        assert len(feats) == 16
        assert all(0.0 <= f <= 1.0 for f in feats)
        # solid white image → all cells 1.0
        white = bytes([255]) * (4 * 4 * 3)
        assert grid_features(4, 4, 3, white) == [1.0] * 16


class TestSparkPngDecode:
    def test_extract_features_real_png_no_injection(self, spark):
        from ndr_import_spark.operators import multimodal as MM

        rows = []
        for i in range(12):
            w, h = 4 + i % 3, 3 + i % 4
            blob = encode_png(w, h, gradient_rgb(w, h))
            rows.append((i, "image", "image/png", w, h, 0, bytearray(blob)))
        df = spark.createDataFrame(rows, MM.MEDIA_SCHEMA).coalesce(2)
        got = {
            r["media_id"]: r for r in MM.extract_features(df).collect()
        }
        for i in range(12):
            w, h = 4 + i % 3, 3 + i % 4
            ew, eh, ch, px = decode_png(encode_png(w, h, gradient_rgb(w, h)))
            efeat = grid_features(ew, eh, ch, px)
            assert (got[i]["width"], got[i]["height"]) == (ew, eh) == (w, h)
            assert got[i]["feature"] == pytest.approx(efeat)

    def test_non_png_without_decoder_raises(self, spark):
        from ndr_import_spark.operators import multimodal as MM

        df = spark.createDataFrame(
            [(1, "image", "image/jpeg", 2, 2, 0, bytearray(b"\xff\xd8notpng"))],
            MM.MEDIA_SCHEMA,
        )
        with pytest.raises(Exception, match="decoder"):
            MM.extract_features(df).collect()


class TestAudioAndFramePlan:
    def test_audio_features_with_injected_decoder(self, spark):
        from ndr_import_spark.operators import multimodal as mm

        df = mm.synth_media_df(spark, n=9).filter("kind = 'audio'")
        rows = mm.extract_audio_features(
            df, decoder=mm.deterministic_fake_audio_decoder
        ).collect()
        assert len(rows) == 3
        for r in rows:
            assert r["sample_rate"] == 16000
            assert r["n_samples"] == 64  # md5 digest * 4 payload
            assert len(r["feature"]) == 8
            assert all(0.0 <= f <= 1.0 for f in r["feature"])

    def test_audio_without_decoder_raises(self, spark):
        from ndr_import_spark.operators import multimodal as mm

        df = mm.synth_media_df(spark, n=3).filter("kind = 'audio'")
        with pytest.raises(Exception, match="needs an injected decoder"):
            mm.extract_audio_features(df).collect()

    def test_frame_sample_plan_fanout(self, spark):
        from ndr_import_spark.operators import multimodal as mm

        df = mm.synth_media_df(spark, n=6).filter("kind = 'video'")
        plan = mm.frame_sample_plan(df, every_ms=1000).collect()
        # duration 2000+10i ms -> 2 frames each at this granularity
        assert len(plan) == 4
        by_media = {}
        for r in plan:
            by_media.setdefault(r["media_id"], []).append(r)
        for rows in by_media.values():
            assert [r["frame_no"] for r in sorted(rows, key=lambda x: x["frame_no"])] == [0, 1]
            assert all(r["ts_ms"] == r["frame_no"] * 1000 for r in rows)


class TestResize:
    def test_png_resize_roundtrip(self, spark):
        from ndr_import_spark.functions.png import decode_png, encode_png
        from ndr_import_spark.operators import multimodal as mm

        # 2x2 quadrant image: R G / B W upscaled to 4x4 must replicate
        # each quadrant under nearest-neighbour
        rgb = bytes([255,0,0, 0,255,0, 0,0,255, 255,255,255])
        png = encode_png(2, 2, rgb)
        df = spark.createDataFrame(
            [(1, "image", "image/png", 2, 2, 0, bytearray(png))],
            mm.MEDIA_SCHEMA,
        )
        out = mm.resize_images(df, 4, 4).collect()[0]
        assert (out["width"], out["height"]) == (4, 4)
        w, h, ch, px = decode_png(bytes(out["payload"]))
        assert (w, h, ch) == (4, 4, 3)
        def pix(x, y):
            o = (y * 4 + x) * 3
            return tuple(px[o:o+3])
        assert pix(0, 0) == (255, 0, 0) and pix(1, 1) == (255, 0, 0)
        assert pix(3, 0) == (0, 255, 0)
        assert pix(0, 3) == (0, 0, 255)
        assert pix(3, 3) == (255, 255, 255)

    def test_non_png_raises(self, spark):
        from ndr_import_spark.operators import multimodal as mm

        df = spark.createDataFrame(
            [(1, "image", "image/jpeg", 2, 2, 0, bytearray(b"not a png"))],
            mm.MEDIA_SCHEMA,
        )
        with pytest.raises(Exception, match="PNG"):
            mm.resize_images(df, 4, 4).collect()


class TestNullPayload:
    def test_null_payload_yields_null_row(self, spark):
        from ndr_import_spark.functions.png import encode_png
        from ndr_import_spark.operators import multimodal as mm

        png = encode_png(2, 1, bytes([1, 2, 3, 4, 5, 6]))
        df = spark.createDataFrame(
            [
                (1, "image", "image/png", 2, 1, 0, bytearray(png)),
                (2, "image", "image/png", 0, 0, 0, None),  # failed fetch
            ],
            mm.MEDIA_SCHEMA,
        )
        rows = {r["media_id"]: r for r in mm.extract_features(df).collect()}
        assert rows[1]["width"] == 2 and rows[1]["feature"] is not None
        assert rows[2]["width"] is None and rows[2]["feature"] is None


class TestPaletteGuard:
    def test_out_of_range_palette_index_raises(self):
        import struct
        import zlib

        from ndr_import_spark.functions.png import PngError, decode_png

        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
            )

        # 2x1 palette image with a 1-entry PLTE but pixel index 5
        ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0)
        scan = b"\x00\x00\x05"  # filter 0, indices 0 and 5
        png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"PLTE", b"\x10\x20\x30")
            + chunk(b"IDAT", zlib.compress(scan))
            + chunk(b"IEND", b"")
        )
        with pytest.raises(PngError, match="out of range"):
            decode_png(png)


class TestPerceptualHash:
    def test_solid_image_hashes_to_zero(self):
        from ndr_import_spark.operators.multimodal import ahash64

        px = bytes([77] * (16 * 3))
        # every cell equals the mean; strictly-greater rule -> all bits 0
        assert ahash64(4, 4, 3, px) == 0

    def test_hand_two_level_image(self):
        from ndr_import_spark.operators.multimodal import ahash64

        # 2x1 image: left black, right white; grid 8 NN-samples columns
        # 0-3 from x=0 and 4-7 from x=1 -> right half above mean
        px = bytes([0, 0, 0, 255, 255, 255])
        h = ahash64(2, 1, 3, px) & ((1 << 64) - 1)
        row = (h >> 56) & 0xFF  # first grid row, MSB-first
        assert row == 0b00001111
        # all 8 grid rows identical (height 1)
        for r in range(8):
            assert (h >> (56 - 8 * r)) & 0xFF == row

    def test_cross_format_same_pixels_same_hash(self, spark):
        import hashlib

        from ndr_import_spark.functions.bmp import encode_bmp
        from ndr_import_spark.functions.png import encode_png
        from ndr_import_spark.functions.tiff import encode_tiff
        from ndr_import_spark.operators import multimodal as MM

        b = hashlib.md5(b"xformat").digest()
        rgb = bytes(v for px in b[:16] for v in (px, px, px))
        rows = [
            (i, "image", "image/any", None, None, None,
             bytearray(enc(4, 4, rgb)))
            for i, enc in enumerate((encode_png, encode_bmp, encode_tiff))
        ]
        media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
        hashes = {r["media_id"]: r["phash"]
                  for r in MM.perceptual_hash_images(media).collect()}
        assert len(set(hashes.values())) == 1

    def test_distinct_images_distinct_hashes(self, spark):
        import hashlib

        from ndr_import_spark.functions.png import encode_png
        from ndr_import_spark.operators import multimodal as MM

        rows = []
        for i in range(10):
            b = hashlib.md5(f"distinct{i}".encode()).digest()
            rgb = bytes(v for px in b[:16] for v in (px, px, px))
            rows.append((i, "image", "image/png", None, None, None,
                         bytearray(encode_png(4, 4, rgb))))
        media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
        out = MM.image_dedup_groups(media).collect()
        assert len(out) == 10
        assert all(r["n_copies"] == 1 for r in out)
