"""The one image dispatch (`multimodal._decode_raw`) and the one Arrow
per-payload adapter (`multimodal.payload_map`) behind the media
operators."""

from __future__ import annotations

import pytest

from ndr_import_spark.functions import bmp, gif, heif, jpeg, png, tiff, webp
from ndr_import_spark.operators import multimodal as MM

# 8x8, 64 colours: within GIF's palette limit
RGB = bytes((i * 37 + c * 11) % 256 for i in range(64) for c in range(3))


def _heif_payload() -> bytes:
    if not heif._load_libheif():
        pytest.skip("libheif.so.1 not present (fixture encoder)")
    return heif.libheif_encode_rgb(RGB, 8, 8)


CODECS = [
    ("png", lambda: png.encode_png(8, 8, RGB), png.decode_png),
    ("webp", lambda: webp.encode_webp(8, 8, RGB), webp.decode_webp),
    ("jpeg", lambda: jpeg.encode_jpeg(8, 8, RGB), jpeg.decode_jpeg),
    ("gif", lambda: gif.encode_gif(8, 8, RGB), gif.decode_gif),
    ("bmp", lambda: bmp.encode_bmp(8, 8, RGB), bmp.decode_bmp),
    ("tiff", lambda: tiff.encode_tiff(8, 8, RGB), tiff.decode_tiff),
    ("heif", _heif_payload, heif.decode_heif),
]


@pytest.mark.parametrize(
    "fmt, encode, decode", CODECS, ids=[c[0] for c in CODECS]
)
def test_decode_raw_is_the_codecs_own_decode(fmt, encode, decode):
    data = encode()
    assert MM._image_format(data) == fmt
    assert MM._decode_raw(data) == decode(data)


UNKNOWN_PAYLOAD_OPERATORS = {
    "extract_features": lambda df: MM.extract_features(df, decoder=None),
    "perceptual_hash_images": MM.perceptual_hash_images,
    "resize_images": lambda df: MM.resize_images(df, 4, 4),
}


@pytest.mark.parametrize("name", sorted(UNKNOWN_PAYLOAD_OPERATORS))
def test_unknown_payload_raises_not_implemented(spark, name):
    df = spark.createDataFrame(
        [(1, "image", "image/x", 2, 2, 0, bytearray(b"no magic bytes"))],
        MM.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="NotImplementedError"):
        UNKNOWN_PAYLOAD_OPERATORS[name](df).collect()


NULL_PAYLOAD_OPERATORS = {
    "perceptual_hash_images": (MM.perceptual_hash_images, (8, 8)),
    "resize_images": (lambda df: MM.resize_images(df, 4, 4), (4, 4)),
}


def _png_and_null_frame(spark):
    return spark.createDataFrame(
        [
            (1, "image", "image/png", 8, 8, 0, bytearray(png.encode_png(8, 8, RGB))),
            (2, "image", "image/png", None, None, None, None),
        ],
        MM.MEDIA_SCHEMA,
    )


@pytest.mark.parametrize("name", sorted(NULL_PAYLOAD_OPERATORS))
def test_null_payload_yields_null_row(spark, name):
    op, size = NULL_PAYLOAD_OPERATORS[name]
    rows = sorted(op(_png_and_null_frame(spark)).collect())
    assert [r[0] for r in rows] == [1, 2]
    assert (rows[0][1], rows[0][2]) == size and rows[0][3] is not None
    assert tuple(rows[1])[1:] == (None, None, None)


def test_null_payloads_form_no_dedup_group(spark):
    df = _png_and_null_frame(spark).unionByName(
        spark.createDataFrame([(3, "image", None, None, None, None, None)], MM.MEDIA_SCHEMA)
    )
    assert [tuple(r) for r in MM.image_dedup_groups(df).collect()] == [(1, 1)]


def test_module_has_one_adapter_and_one_image_dispatch():
    """Source-level pin: every per-payload operator goes through
    `payload_map` (the module's only mapInPandas call), and the image
    magic-byte table is the only place that names `is_png` — a copied
    batch loop or dispatch chain would add a second."""
    with open(MM.__file__) as f:
        src = f.read()
    assert src.count("mapInPandas(") == 1
    assert src.count("is_png") == 1
