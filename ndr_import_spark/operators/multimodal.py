"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

Net-new (BASELINE.json north_star). Image decode is REAL for PNG
(functions/png.py — inflate, unfilter), WebP (functions/webp.py — VP8L
lossless, VP8 lossy keyframes as luma), baseline AND progressive JPEG
(functions/jpeg.py — T.81 Huffman + exact IDCT, Annex G scans), GIF
(functions/gif.py — LZW, interlace), BMP (functions/bmp.py — BI_RGB
24/32-bit + palettised DIBs), baseline TIFF (functions/tiff.py —
II/MM strips, none/PackBits) and, when the system libheif is present,
AVIF/HEIC (functions/heif.py) payloads, dispatched by magic bytes
through one table (`_decode_raw`); audio decode is REAL for WAV/PCM
(functions/wav.py — RIFF walk, PCM and IEEE-float frames). Other
formats need a decoder passed per call (``decoder=``; deterministic
fakes available for tests).
Everything Spark-side is real either way: schema, Arrow-batched
`mapInPandas` plumbing (one adapter, `payload_map`, for every
per-payload operator), batch shapes, partition sizing.

Design for 100 TB: binary payloads ride in parquet binary columns (or
pointers to object-store keys); decode/feature-extract runs in
`mapInPandas` so one task streams record batches without materialising the
partition; metadata lives in sibling typed columns so filters prune without
touching bytes.
"""

from __future__ import annotations

import functools
import hashlib
import struct
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ndr_import_spark.sources.common import local_frame

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),      # image | audio | video
    T.StructField("mime", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("duration_ms", T.IntegerType()),
    T.StructField("payload", T.BinaryType()),
])

def payload_map(
    df: DataFrame,
    fn: Callable[[object, bytes | None], Iterable[tuple]],
    schema: str,
    id_col: str = "media_id",
) -> DataFrame:
    """Run ``fn(mid, payload)`` on every (id, payload) pair of `df` in
    Arrow record batches and return the rows it gives as a frame of
    `schema` — the one ``mapInPandas`` behind every per-payload operator.

    Only `id_col` and the ``payload`` column cross into Python; a payload is
    ``bytes``, or ``None`` for a null payload. ``fn`` returns the row
    tuples for that payload in `schema` column order: one row, none to
    drop the payload, or several to fan out. What ``fn`` raises fails
    the task, so an operator that isolates bad payloads catches its
    codec errors inside ``fn``. The codec functions an operator imports
    while it builds the plan ride in ``fn``'s closure, so a task imports
    them once when it unpickles ``fn``, not once per payload."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                row
                for mid, payload in zip(pdf[id_col], pdf["payload"])
                for row in fn(mid, payload)
            ]
            if rows:
                # unnamed columns: Spark assigns them to `schema` by position
                yield pd.DataFrame(rows)

    return df.select(id_col, "payload").mapInPandas(run, schema)


def deterministic_fake_decoder(data: bytes) -> tuple[int, int, list[float]]:
    """Test decoder: reads the first 16 payload bytes as 'pixels' —
    deterministic, library-free, and reproducible by an SQL oracle (the
    payload bytes are the contract; no re-hashing)."""
    b = bytes(data or b"")
    if len(b) < 16:
        b = (b + bytes(16))[:16]
    w = 4 + b[0] % 4
    ht = 4 + b[1] % 4
    feats = [x / 255.0 for x in b[:16]]
    return w, ht, feats


FEATURE_SCHEMA = (
    "media_id long, kind string, width int, height int, feature array<double>"
)


def extract_features(df: DataFrame, decoder=None) -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow record batches).

    PNG, WebP, JPEG, GIF, BMP, TIFF and (with the system libheif)
    AVIF/HEIC payloads decode with the stdlib codecs through the
    magic-byte dispatch `_decode_raw` by default; the feature is
    `png.grid_features` of the decoded pixels. A payload in none of
    those formats with no injected decoder raises NotImplementedError,
    failing the task. A null payload yields a row of NULL width, height
    and feature.

    Decoder injection (r8 verdict): ``decoder`` (bytes → (width, height,
    feature list[float])) replaces the stdlib dispatch for this call; it
    rides in the task closure, so executors see it too.
    """
    from ndr_import_spark.functions.png import grid_features

    def one(key, payload):
        mid, kind = key["media_id"], key["kind"]
        if payload is None:
            # a failed fetch must not kill the job (and must not be
            # misreported as an unsupported format): null feature row
            return [(mid, kind, None, None, None)]
        if decoder is not None:
            return [(mid, kind, *decoder(payload))]
        w, h, ch, px = _decode_raw(payload)
        return [(mid, kind, w, h, grid_features(w, h, ch, px))]

    # the adapter hands `one` a single id value, so `kind` rides in it
    keyed = df.select(F.struct("media_id", "kind").alias("key"), "payload")
    return payload_map(keyed, one, FEATURE_SCHEMA, id_col="key")


AUDIO_FEATURE_SCHEMA = (
    "media_id long, n_samples int, sample_rate int, feature array<double>"
)


def deterministic_fake_audio_decoder(data: bytes) -> tuple[int, int, list[float]]:
    """Test decoder: byte length as sample count, fixed 16 kHz rate, the
    first 8 payload bytes as 'spectral' features — deterministic and
    library-free, same contract shape a real PCM/FFT decoder would fill."""
    b = bytes(data or b"")
    n = len(b)
    if n < 8:
        b = (b + bytes(8))[:8]
    return n, 16000, [x / 255.0 for x in b[:8]]


def extract_audio_features(df: DataFrame, decoder=None) -> DataFrame:
    """Audio twin of `extract_features`: decode + feature-extract via
    Arrow-batched mapInPandas. WAV/PCM payloads (RIFF magic) decode with
    the stdlib codec (functions/wav.py — PCM 8/16/24/32-bit, IEEE float,
    WAVE_FORMAT_EXTENSIBLE) by default; an injected decoder takes
    precedence for other formats (the deterministic fake serves tests).
    Non-WAV payloads with no injected decoder raise NotImplementedError —
    the same honest env-gate contract as the image path.

    Decoder injection follows extract_features: ``decoder`` (bytes →
    (n_samples, sample_rate, feature list)) replaces the stdlib dispatch
    for this call."""
    from ndr_import_spark.functions.flac import flac_audio_decoder, is_flac
    from ndr_import_spark.functions.mp3 import decode_mp3, is_mp3
    from ndr_import_spark.functions.wav import is_wav, wav_audio_decoder

    def one(mid, payload):
        if payload is None:
            return [(mid, None, None, None)]
        if decoder is not None:
            return [(mid, *decoder(payload))]
        if is_wav(payload):
            return [(mid, *wav_audio_decoder(payload))]
        if is_flac(payload):
            return [(mid, *flac_audio_decoder(payload))]
        if is_mp3(payload):
            # env-gated: binds the system libmpg123 when present (the
            # Avro-jar/libheif posture); raises NotImplementedError with
            # the clean-room rationale otherwise (functions/mp3.py —
            # structural analytics via mp3_structure_table need no
            # decoder)
            sr, nch, pcm = decode_mp3(payload)
            feat = [float(abs(int(v))) / 32768.0 for v in pcm[:16]]
            return [(mid, len(pcm) // max(nch, 1), sr, feat)]
        raise NotImplementedError(
            "Non-WAV/FLAC audio needs an injected decoder; pass "
            "decoder= (deterministic_fake_audio_decoder available for tests)"
        )

    return payload_map(df, one, AUDIO_FEATURE_SCHEMA)


MEDIA_META_SCHEMA = (
    "media_id long, container string, codec string, sample_rate int, "
    "channels int, duration_ms double, bit_rate double, n_frames int, "
    "width int, height int, encoder string, declared_frames long, "
    "vbr boolean"
)


def extract_media_metadata(df: DataFrame) -> DataFrame:
    """Compressed-media METADATA scan: MP3 frame walk (+Xing/LAME), Ogg
    page walk (Vorbis/Opus id headers, RFC 3533 CRC), MP4 box walk
    (mvhd/stsd/stsz) via sources/mediameta.py — Arrow mapInPandas, one
    probe per payload, no sample decode. Unrecognised or truncated
    payloads yield container='unknown' with NULL fields (per-row
    robustness: a 100 TB crawl's media column routes/budgets on this
    output, so one bad payload must not fail a task)."""
    from ndr_import_spark.sources.mediameta import MediaMetaError, probe_media

    cols = [
        "container", "codec", "sample_rate", "channels", "duration_ms",
        "bit_rate", "n_frames", "width", "height", "encoder",
        "declared_frames", "vbr",
    ]

    def one(mid, payload):
        try:
            m = probe_media(payload or b"")
        except (MediaMetaError, IndexError, ValueError):
            m = {}
        row = [m.get(c) for c in cols]
        if row[0] is None:
            row[0] = "unknown"
        return [(mid, *row)]

    return payload_map(df, one, MEDIA_META_SCHEMA)


IMAGE_META_SCHEMA = (
    "media_id long, fmt string, width int, height int, orientation int, "
    "make string, model string, datetime_original string, "
    "jfif_xdensity int, jfif_ydensity int, icc_colorspace string, "
    "icc_size long, has_gps boolean, lat_micro long, lon_micro long, "
    "alt_cm long"
)


def extract_image_metadata(df: DataFrame) -> DataFrame:
    """EXIF / JFIF / ICC metadata scan for JPEG/TIFF payloads
    (functions/exif.py): camera make/model, orientation, capture
    timestamp, JFIF densities, ICC colour space, and GPS position as
    exact integer micro-degrees (the PII every training-data pipeline
    must find before images ship). Arrow mapInPandas, per-row
    robustness: unparseable payloads yield fmt='unknown' with NULL
    fields."""
    from ndr_import_spark.functions.exif import (
        ExifError,
        extract_image_meta,
        parse_exif_tiff,
    )
    from ndr_import_spark.functions.webp import (
        WebpError,
        _walk_riff_chunks,
        is_webp,
        webp_metadata,
    )

    cols = [
        "fmt", "width", "height", "orientation", "make", "model",
        "datetime_original", "jfif_xdensity", "jfif_ydensity",
        "icc_colorspace", "icc_size", "has_gps", "lat_micro",
        "lon_micro", "alt_cm",
    ]

    def webp_meta(raw: bytes) -> dict:
        # container probe works for all three flavours (incl. lossy
        # VP8 dims from the uncompressed frame header); the EXIF
        # chunk body is raw TIFF per the container spec -> same IFD
        # walk as JPEG APP1 surfaces make/GPS
        wm = webp_metadata(raw)
        m = {
            "fmt": "webp", "width": wm["width"],
            "height": wm["height"], "has_gps": False,
        }
        for fourcc, pos, size in _walk_riff_chunks(raw):
            if fourcc == b"ICCP":
                m["icc_size"] = size
            elif fourcc == b"EXIF":
                body = raw[pos + 8:pos + 8 + size]
                if body[:6] == b"Exif\x00\x00":
                    body = body[6:]
                exif = parse_exif_tiff(body)
                exif.pop("width", None), exif.pop("height", None)
                m.update(exif)
        return m

    def one(mid, payload):
        raw = payload or b""
        try:
            m = webp_meta(raw) if is_webp(raw) else extract_image_meta(raw)
        except (WebpError, ExifError, ValueError, IndexError, struct.error):
            m = {}
        row = [m.get(c) for c in cols]
        if row[0] is None:
            row[0] = "unknown"
        row[cols.index("has_gps")] = bool(m.get("has_gps"))
        return [(mid, *row)]

    return payload_map(df, one, IMAGE_META_SCHEMA)


def scrub_image_metadata(df: DataFrame) -> DataFrame:
    """(media_id, payload) with metadata stripped: JPEG loses APP1 (EXIF/XMP
    incl. GPS) and APP2 (ICC) via exif.strip_jpeg_metadata; WebP (r8)
    loses its EXIF/XMP/ICCP chunks with the VP8X feature flags cleared
    via webp.scrub_webp_metadata — GPS rides in the WebP EXIF chunk's
    TIFF body exactly as in APP1, and the scrub works for LOSSY VP8 too
    (container surgery never touches the compressed payload); AVIF/HEIC
    (r9) lose their Exif item via heif.scrub_heif_exif's in-place
    extent zeroing. Other / unparseable payloads pass through UNCHANGED
    (the scrub must never destroy data it does not understand — route
    those to quarantine by fmt instead)."""
    from ndr_import_spark.functions.exif import ExifError, strip_jpeg_metadata
    from ndr_import_spark.functions.heif import (
        HeifError,
        is_heif,
        scrub_heif_exif,
    )
    from ndr_import_spark.functions.webp import (
        WebpError,
        is_webp,
        scrub_webp_metadata,
    )

    def one(mid, payload):
        raw = payload or b""
        try:
            if is_webp(raw):
                return [(mid, scrub_webp_metadata(raw))]
            if is_heif(raw):
                return [(mid, scrub_heif_exif(raw))]
            return [(mid, strip_jpeg_metadata(raw))]
        except (WebpError, HeifError, ExifError, struct.error):
            return [(mid, raw)]

    return payload_map(df, one, "media_id long, payload binary")


VIDEO_FEATURE_SCHEMA = (
    "media_id long, n_frames int, width int, height int, duration_ms int, "
    "feature array<double>"
)


def extract_video_features(df: DataFrame, decoder=None) -> DataFrame:
    """Video twin of `extract_features`: decode + per-frame feature
    extraction via Arrow-batched mapInPandas. MJPEG-in-AVI payloads (RIFF
    magic) decode with the stdlib container walk + JPEG codec
    (functions/avi.py — Annex K table injection for table-less MJPEG
    frames) by default, every frame sampled (feature = mean pixel per
    frame); a `decoder` (bytes → (n_frames, width, height, duration_ms,
    feature list)) replaces that dispatch for this call.
    Non-AVI payloads with no decoder raise NotImplementedError —
    the same honest env-gate contract as the image and audio paths."""
    from ndr_import_spark.functions.avi import avi_video_decoder, is_avi
    from ndr_import_spark.functions.gif import gif_video_decoder, is_gif

    def one(mid, payload):
        if payload is None:
            return [(mid, None, None, None, None, None)]
        if decoder is not None:
            return [(mid, *decoder(payload))]
        if is_avi(payload):
            return [(mid, *avi_video_decoder(payload))]
        if is_gif(payload):
            # animated GIF is a video-like container (frames + delays):
            # the second real stdlib container on this path
            return [(mid, *gif_video_decoder(payload))]
        raise NotImplementedError(
            "Non-AVI/GIF video needs an injected decoder; pass decoder="
        )

    return payload_map(df, one, VIDEO_FEATURE_SCHEMA)


RESIZED_SCHEMA = (
    "media_id long, width int, height int, payload binary"
)


def _encode_gif_quantized(width: int, height: int, rgb: bytes) -> bytes:
    """encode_gif with a deterministic palette-reduction fallback: keep
    full colour when it fits, else drop low bits per channel (8→6→5→4→3→2
    bits; 2 bits/channel = 64 colours always fits). Quantisation keeps
    the high bits, so the error is bounded by the dropped bit span."""
    import numpy as np

    from ndr_import_spark.functions.gif import encode_gif

    arr = np.frombuffer(bytes(rgb), dtype=np.uint8)
    for bits in (8, 6, 5, 4, 3, 2):
        if bits == 8:
            q = arr
        else:
            mask = 0xFF ^ ((1 << (8 - bits)) - 1)
            q = (arr & mask).astype(np.uint8)
        if len(np.unique(q.reshape(-1, 3), axis=0)) <= 256:
            return encode_gif(width, height, q.tobytes())
    raise AssertionError("unreachable: 2-bit channels cap at 64 colours")


def resize_images(df: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Thumbnail/normalise stage: decode PNG, baseline-JPEG, GIF, BMP or
    TIFF payloads, nearest-neighbour resample to (target_w, target_h),
    re-encode in the SOURCE format (PNG→PNG, JPEG→JPEG, GIF→GIF,
    BMP→BMP, TIFF→TIFF) — a REAL stdlib roundtrip, batched through
    mapInPandas like the feature extractor. Resizing needs raw pixels
    and an encoder, so payloads in none of those five formats (WebP and
    AVIF/HEIC included) raise NotImplementedError, failing the task —
    the same honest env-gate contract as the decode path. A null payload
    yields a row of NULL width, height and payload."""
    from ndr_import_spark.functions.bmp import encode_bmp
    from ndr_import_spark.functions.jpeg import encode_jpeg
    from ndr_import_spark.functions.png import encode_png, resize_rgb
    from ndr_import_spark.functions.tiff import encode_tiff

    encoders = {
        "png": encode_png,
        "jpeg": encode_jpeg,
        # the decoded GIF canvas is NOT guaranteed <=256 colours:
        # sub-frame compositing and transparency add black on top of the
        # palette (a full 256-colour GIF with a smaller image descriptor
        # decodes to 257), so the re-encode quantises deterministically
        # (drop low bits per channel, coarsest first fit) when needed
        "gif": _encode_gif_quantized,
        "bmp": encode_bmp,
        "tiff": encode_tiff,
    }

    def one(mid, payload):
        if payload is None:
            return [(mid, None, None, None)]
        fmt = _image_format(payload)
        if fmt not in encoders:
            raise NotImplementedError(
                "resize_images requires PNG, baseline-JPEG, GIF, BMP or "
                "TIFF payloads (stdlib codecs)"
            )
        w, h, ch, px = _decode_raw(payload)
        rgb = resize_rgb(w, h, ch, px, target_w, target_h)
        if fmt == "jpeg" and ch == 1:
            # keep grayscale grayscale: resize_rgb replicated the grey
            # plane to 3 identical channels — take it back out and
            # re-encode single-component (a 3-ch YCbCr re-encode changed
            # the pixel layout and grew the payload for no information)
            out = encode_jpeg(target_w, target_h, rgb[0::3], channels=1)
        else:
            out = encoders[fmt](target_w, target_h, rgb)
        return [(mid, target_w, target_h, out)]

    return payload_map(df, one, RESIZED_SCHEMA)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one output row per planned frame —
    pure-Column fan-out (no decode needed to size the work), used to
    partition decode work evenly before the expensive UDF stage."""
    n_frames = F.greatest((F.col("duration_ms") / every_ms).cast("int"), F.lit(1))
    return df.select(
        "media_id",
        "kind",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_no"),
    ).withColumn("ts_ms", F.col("frame_no") * every_ms)


def synth_media_df(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests (no external files)."""
    rows = []
    for i in range(n):
        payload = hashlib.md5(f"media{i}".encode()).digest() * 4
        kind = ["image", "audio", "video"][i % 3]
        rows.append((i, kind, f"{kind}/fake", 64, 48, 2000 + i * 10, bytearray(payload)))
    # a tiny table over default parallelism would spin up one Arrow python
    # worker per partition for a handful of rows each
    return local_frame(spark, rows, MEDIA_SCHEMA).coalesce(4)


PHASH_SCHEMA = "media_id long, width int, height int, phash long"


def ahash64(w: int, h: int, ch: int, px: bytes, grid: int = 8) -> int:
    """Integer-exact average hash (aHash, public perceptual-hash family):
    nearest-neighbour sample a grid×grid luminance lattice (same index
    arithmetic as `resize_rgb`), threshold each cell against the lattice
    mean via cross-multiplication (`v·g² > Σv`, ties → 0 — no division,
    no floats), pack row-major MSB-first. Returned as a SIGNED 64-bit
    value (two's complement) so it stores in a Spark/parquet LONG."""
    g = grid
    lum = []
    for i in range(g):
        sy = min(i * h // g, h - 1)
        for j in range(g):
            sx = min(j * w // g, w - 1)
            base = (sy * w + sx) * ch
            if ch == 1:
                lum.append(299 * px[base] + 587 * px[base] + 114 * px[base])
            else:
                lum.append(
                    299 * px[base] + 587 * px[base + 1] + 114 * px[base + 2]
                )
    total = sum(lum)
    n = g * g
    bits = 0
    for idx, v in enumerate(lum):
        if v * n > total:
            bits |= 1 << (n - 1 - idx)
    if bits >= 1 << 63:
        bits -= 1 << 64
    return bits


@functools.cache
def _image_codecs() -> dict:
    """The stdlib image codecs, format → (is_x, decode_x), in magic-byte
    dispatch order. Imported on first use, so a task that never decodes
    an image never loads them; shared, so callers must not mutate it."""
    from ndr_import_spark.functions import bmp, gif, heif, jpeg, png, tiff, webp

    return {
        "png": (png.is_png, png.decode_png),
        "webp": (webp.is_webp, webp.decode_webp),
        "jpeg": (jpeg.is_jpeg, jpeg.decode_jpeg),
        "gif": (gif.is_gif, gif.decode_gif),
        "bmp": (bmp.is_bmp, bmp.decode_bmp),
        "tiff": (tiff.is_tiff, tiff.decode_tiff),
        # env-gated system-libheif decode (r9); raises
        # NotImplementedError with a clear message when absent
        "heif": (heif.is_heif, heif.decode_heif),
    }


def _image_format(data: bytes) -> str | None:
    """The `_image_codecs` format whose magic bytes `data` carries."""
    for fmt, (is_x, _decode) in _image_codecs().items():
        if is_x(data):
            return fmt
    return None


def _decode_raw(data: bytes):
    """The image dispatch: magic bytes → that codec's RAW pixel decoder,
    (width, height, channels, pixels) — shared by feature extraction,
    resize and perceptual hashing."""
    fmt = _image_format(data)
    if fmt is None:
        raise NotImplementedError(
            "no stdlib image codec for this payload (PNG, WebP, JPEG, GIF, "
            "BMP, TIFF, AVIF/HEIC); pass decoder= to extract_features "
            "(deterministic_fake_decoder available for tests)"
        )
    return _image_codecs()[fmt][1](data)


def perceptual_hash_images(df: DataFrame, grid: int = 8) -> DataFrame:
    """(media_id, width, height, phash): aHash per image via the real
    codec stack, Arrow-batched. The hash is pure integer arithmetic on
    decoded pixels, so the same image encoded in ANY lossless format
    (PNG/BMP/TIFF/GIF within palette limits) produces the SAME hash —
    which is exactly what cross-format image dedup needs. A null payload
    yields a row of NULL width, height and phash; an undecodable one
    fails the task."""

    def one(mid, payload):
        if payload is None:
            return [(mid, None, None, None)]
        w, h, ch, px = _decode_raw(payload)
        return [(mid, w, h, ahash64(w, h, ch, px, grid))]

    return payload_map(df, one, PHASH_SCHEMA)


def image_dedup_groups(df: DataFrame) -> DataFrame:
    """(kept_id, n_copies): cross-format exact perceptual-duplicate
    groups — ONE combinable aggregate on the 64-bit hash (keep the lowest
    media_id, the dedup family's election rule). Near-duplicate pairs at
    Hamming distance d compose with the SimHash banding machinery
    (`dedup.simhash_hamming_pairs` slices) on this same hash column; the
    exact grouping here is the lossless-codec case where pixels — and
    therefore hashes — are identical. A null payload has a NULL hash and
    is in no group."""
    return (
        perceptual_hash_images(df)
        .where(F.col("phash").isNotNull())
        .groupBy("phash")
        .agg(
            F.min("media_id").alias("kept_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("kept_id", "n_copies")
    )


AUDIO_TAG_SCHEMA = (
    "media_id long, id3_version string, title string, artist string, "
    "album string, year string, genre string, encoder string, "
    "comment string, has_picture boolean, n_frames int"
)


def audio_tag_table(df: DataFrame) -> DataFrame:
    """Audio tag extraction across every container a crawl sees (r10):
    one row per payload with the common text fields from a leading
    ID3v2.2/2.3/2.4 tag (functions/mp3.parse_id3v2 — syncsafe/plain
    sizes, tag- and frame-level unsynchronisation, all four text
    encodings) with ID3v1-trailer fallback, or — when no ID3 exists —
    the VorbisComment family (FLAC metadata block 4, Ogg Vorbis, Ogg
    Opus), WAV RIFF LIST/INFO, or MP4/M4A iTunes-style ilst atoms
    (functions/audiotags.py), mapped onto one unified schema
    (`id3_version` carries the container: '2.4', '1', 'flac',
    'vorbis', 'opus', 'riff', 'mp4'). Cost is tag-sized: frame
    bodies other than text are counted, never decoded (APIC / FLAC
    PICTURE / covr presence without touching image bytes).

    Arrow mapInPandas, stateless, shuffle-free; untagged payloads yield
    id3_version=NULL rather than failing the task."""
    from ndr_import_spark.functions.audiotags import (
        AudioTagError,
        flac_comments,
        mp4_ilst,
        ogg_comments,
        riff_info,
    )
    from ndr_import_spark.functions.mp3 import parse_id3v1, parse_id3v2

    # v2.4 / v2.3 / v2.2 frame ids for the common fields
    fields = {
        "title": ("TIT2", "TT2"), "artist": ("TPE1", "TP1"),
        "album": ("TALB", "TAL"), "year": ("TDRC", "TYER", "TYE"),
        "genre": ("TCON", "TCO"), "encoder": ("TSSE", "TSS"),
    }
    # VorbisComment and RIFF/INFO key maps onto the same columns
    vorbis_map = {
        "title": ("TITLE",), "artist": ("ARTIST",),
        "album": ("ALBUM",), "year": ("DATE", "YEAR"),
        "genre": ("GENRE",), "encoder": ("ENCODER",),
    }
    riff_map = {
        "title": ("INAM",), "artist": ("IART",), "album": ("IPRD",),
        "year": ("ICRD",), "genre": ("IGNR",), "encoder": ("ISFT",),
    }

    def pick(tags: dict, fids) -> str | None:
        for fid in fids:
            if tags.get(fid):
                return tags[fid]
        return None

    def one(mid, payload):
        raw = payload or b""
        rec: dict = {k: None for k in fields}
        version = comment = None
        has_pic = False
        n_frames = 0
        v2 = parse_id3v2(raw)
        v1 = parse_id3v1(raw)
        if v2 is not None:
            version = v2["version"]
            has_pic = v2["has_picture"]
            n_frames = v2["n_frames"]
            comment = v2["comment"]
            for k, fids in fields.items():
                rec[k] = pick(v2["tags"], fids)
        if v1 is not None:
            version = version or "1"
            for k in ("title", "artist", "album", "year"):
                rec[k] = rec[k] or v1[k]
            comment = comment or v1["comment"]
        if version is None:
            # VorbisComment family + RIFF INFO + MP4 ilst
            try:
                vc = flac_comments(raw) or ogg_comments(raw) or mp4_ilst(raw)
                if vc is not None:
                    version = vc.get("codec") or "flac"
                    has_pic = bool(vc.get("has_picture"))
                    n_frames = vc["n_comments"]
                    for k, fids in vorbis_map.items():
                        rec[k] = pick(vc["tags"], fids)
                    comment = pick(vc["tags"], ("COMMENT", "DESCRIPTION"))
                else:
                    ri = riff_info(raw)
                    if ri is not None:
                        version = "riff"
                        n_frames = ri["n_comments"]
                        for k, fids in riff_map.items():
                            rec[k] = pick(ri["tags"], fids)
                        comment = pick(ri["tags"], ("ICMT",))
            except (AudioTagError, IndexError, struct.error):
                # per-payload isolation: a malformed container
                # (truncated Ogg page, bad lacing) must yield an
                # error row, never fail the Spark task
                version = "error"
        return [(
            mid, version, rec["title"], rec["artist"], rec["album"],
            rec["year"], rec["genre"], rec["encoder"], comment, has_pic,
            n_frames,
        )]

    return payload_map(df, one, AUDIO_TAG_SCHEMA)


AUDIO_FP_SCHEMA = (
    "media_id long, codec string, sample_rate int, n_samples long, "
    "pcm_md5 string, fingerprint long"
)


def audio_fingerprint_table(df: DataFrame) -> DataFrame:
    """Cross-codec audio dedup keys (r11, the audio twin of
    perceptual_hash_images): each payload decodes to mono PCM through
    the clean-room codec stack (WAV PCM16/float32, G.711 µ/A-law, IMA/
    MS ADPCM, FLAC) and yields the two-tier keys from
    functions/audiofp.py — `pcm_md5` (exact: lossless re-encodes
    collapse) and `fingerprint` (robust: faithful lossy re-encodes
    collapse as candidates). One combinable groupBy on either column is
    the dedup; samples never leave the Arrow task.

    Arrow mapInPandas, stateless, shuffle-free; undecodable payloads
    yield codec='error' with NULL keys rather than failing the task."""
    from ndr_import_spark.functions.audiofp import (
        audio_codec_name,
        audio_fingerprint,
        decode_audio,
        pcm_digest,
    )

    def one(mid, payload):
        raw = payload or b""
        try:
            codec = audio_codec_name(raw)
            sr, samples = decode_audio(raw)
            return [(
                mid, codec, int(sr), int(samples.size),
                pcm_digest(samples), audio_fingerprint(samples),
            )]
        except (ValueError, IndexError, struct.error):
            # AudioFpError / WavError / AdpcmError and flac.py's
            # plain ValueErrors are all ValueError subclasses
            return [(mid, "error", None, None, None, None)]

    return payload_map(df, one, AUDIO_FP_SCHEMA)


AUDIO_QUALITY_SCHEMA = (
    "media_id long, codec string, sample_rate int, n_samples long, "
    "duration_ms double, peak double, mean_square double, "
    "dc_offset double, clip_ratio double, silence_ratio double, "
    "verdict string"
)


def audio_quality_table(df: DataFrame) -> DataFrame:
    """Audio quality scoring for training-data curation (r11) — the
    audio twin of the Gopher text-quality gate: per payload, decode to
    mono PCM (same dispatch as audio_fingerprint_table) and emit peak /
    mean-square power / DC offset / clipped-sample ratio /
    near-silence ratio plus a single routing verdict
    (clipped > silent > dc_offset > ok, functions/audiofp.py
    thresholds). A curation pipeline filters on `verdict` exactly as
    the text side filters on the Gopher rules.

    Arrow mapInPandas, stateless, shuffle-free; every stat is exact
    dyadic arithmetic for power-of-two sample counts, so oracles replay
    them bit-for-bit. Undecodable payloads yield verdict='error'."""
    from ndr_import_spark.functions.audiofp import (
        audio_codec_name,
        audio_quality_stats,
        decode_audio,
    )

    cols = ["sample_rate", "n_samples", "duration_ms", "peak",
            "mean_square", "dc_offset", "clip_ratio",
            "silence_ratio", "verdict"]

    def one(mid, payload):
        raw = payload or b""
        try:
            codec = audio_codec_name(raw)
            sr, samples = decode_audio(raw)
            st = audio_quality_stats(sr, samples)
            return [(mid, codec, *[st[c] for c in cols])]
        except (ValueError, IndexError, struct.error):
            return [(mid, "error", *[None] * 8, "error")]

    return payload_map(df, one, AUDIO_QUALITY_SCHEMA)


def resample_audio(df: DataFrame, target_sr: int) -> DataFrame:
    """(media_id, payload, sample_rate, n_samples) with every payload
    decoded (any supported container/codec), linearly resampled to
    `target_sr` (functions/audiofp.resample_audio_linear) and
    re-encoded as WAV PCM16 — the audio twin of resize_images: a real
    decode -> transform -> re-encode roundtrip whose output is a
    playable artifact, not a stats row. Undecodable payloads are
    DROPPED (the pipeline filters them on the quality verdict first).

    Arrow mapInPandas, stateless; the resample is pure vectorised
    interpolation, exact on dyadic signals at integer factors."""
    from ndr_import_spark.functions.audiofp import (
        decode_audio,
        resample_audio_linear,
    )
    from ndr_import_spark.functions.wav import encode_wav

    def one(mid, payload):
        try:
            sr, samples = decode_audio(payload or b"")
            res = resample_audio_linear(samples, sr, target_sr)
            return [(mid, encode_wav(target_sr, res, bits=16),
                     int(target_sr), int(res.size))]
        except (ValueError, IndexError, struct.error):
            return []

    return payload_map(
        df, one, "media_id long, payload binary, sample_rate int, n_samples long"
    )


AUDIO_SEG_SCHEMA = (
    "media_id long, seg_ix int, start_ms double, end_ms double, "
    "n_samples long, mean_square double"
)


def segment_audio_table(df: DataFrame, min_gap_ms: float = 100.0) -> DataFrame:
    """Silence-boundary audio segmentation (r11) — the audio twin of
    document chunking for ASR-style corpus prep: one row per voiced
    segment (functions/audiofp.silence_segments; two voiced runs merge
    unless separated by >= min_gap_ms of silence) with exact sample
    offsets as milliseconds and the segment's mean-square power. A
    training pipeline joins these rows back to slice payloads, budget
    by duration, or drop low-power segments.

    Arrow mapInPandas, stateless, shuffle-free; segment rows are
    ~50 bytes regardless of audio length. Undecodable or fully-silent
    payloads yield no rows."""
    import numpy as np

    from ndr_import_spark.functions.audiofp import (
        decode_audio,
        silence_segments,
    )

    def one(mid, payload):
        try:
            sr, samples = decode_audio(payload or b"")
            gap = max(1, int(sr * min_gap_ms / 1000.0))
            segs = silence_segments(samples, gap)
        except (ValueError, IndexError, struct.error):
            return []
        return [
            (mid, ix, a * 1000.0 / sr, b * 1000.0 / sr, int(b - a),
             float(np.mean(samples[a:b] * samples[a:b])))
            for ix, (a, b) in enumerate(segs)
        ]

    return payload_map(df, one, AUDIO_SEG_SCHEMA)


MEDIA_ROUTE_SCHEMA = (
    "media_id long, family string, container string, n_bytes long"
)


def route_media_payloads(df: DataFrame) -> DataFrame:
    """Front-door routing for a mixed media corpus (r11): one row per
    payload with its (family, container) from magic bytes alone
    (sources/mediameta.sniff_media) — image/audio/video/document/
    archive/text/unknown. Prefix-sized cost: no box walk, no frame
    walk, no decode; at 100 TB this is the partition-by step that
    sends each payload to the right probe family (extract_image_*,
    audio_*, probe_media, archive expansion) without touching payload
    bodies. Never raises: unrecognised bytes route 'unknown'."""
    from ndr_import_spark.sources.mediameta import sniff_media

    def one(mid, payload):
        raw = payload or b""
        return [(mid, *sniff_media(raw), len(raw))]

    return payload_map(df, one, MEDIA_ROUTE_SCHEMA)


ALBUM_ART_SCHEMA = (
    "media_id long, art_ix int, container string, mime string, "
    "payload binary"
)


def extract_album_art(df: DataFrame) -> DataFrame:
    """One row per embedded artwork in an audio payload (r11): ID3v2
    APIC/PIC frames (functions/mp3.id3_pictures), FLAC PICTURE blocks
    (functions/audiotags.flac_pictures) and MP4/M4A covr atoms
    (functions/audiotags.mp4_covers), with the carrying container
    named. The output payload column is the raw embedded IMAGE, so the
    whole image pipeline — EXIF/GPS scrub (scrub_image_metadata),
    perceptual-hash dedup (perceptual_hash_images), resize — composes
    downstream unchanged: album art is how GPS-bearing JPEGs hide
    inside audio corpora.

    Arrow mapInPandas, stateless, shuffle-free; art-sized cost (audio
    codec bytes are never read past the tag walk). Untagged or
    malformed payloads yield no rows rather than failing the task."""
    from ndr_import_spark.functions.audiotags import (
        AudioTagError,
        flac_pictures,
        mp4_covers,
    )
    from ndr_import_spark.functions.mp3 import id3_pictures

    def one(mid, payload):
        raw = payload or b""
        try:
            arts = [("id3", m, d) for m, d in id3_pictures(raw)]
            if not arts:
                arts = [("flac", m, d) for m, d in flac_pictures(raw)]
            if not arts:
                arts = [("mp4", m, d) for m, d in mp4_covers(raw)]
        except (AudioTagError, IndexError, struct.error):
            return []  # malformed container: no art rows
        return [
            (mid, ix, cont, mime, art)
            for ix, (cont, mime, art) in enumerate(arts)
        ]

    return payload_map(df, one, ALBUM_ART_SCHEMA)


WEBP_CANVAS_SCHEMA = (
    "media_id long, frame_ix int, duration_ms int, canvas_md5 string, "
    "sum_r long, sum_g long, sum_b long, sum_a long"
)


def webp_canvas_table(df: DataFrame) -> DataFrame:
    """Composited-canvas frame table (r10, the compositing twin of
    webp_frame_table): one row per ANIMATION FRAME with the digest and
    per-channel sums of the canvas AS A VIEWER SEES IT — VP8X
    dispose/blend honored via functions/webp.composite_webp_frames — so
    frame-level dedup/scrubbing operates on rendered content, not raw
    sub-rectangles (two animations that LOOK identical but carve their
    deltas differently collapse here and nowhere else).

    Arrow mapInPandas, stateless, shuffle-free: the canvases of one
    animation live and die inside one task; only digests and channel
    sums (32 bytes/frame) ever reach the shuffle. Per-payload error
    isolation: a malformed animation or a null payload yields one
    frame_ix=-1 row (after the rows of any frames composited before
    the fault)."""
    from ndr_import_spark.functions.vp8 import VP8Error
    from ndr_import_spark.functions.webp import WebpError, composite_webp_frames

    def one(mid, payload):
        rows = []
        try:
            for fr in composite_webp_frames(payload or b""):
                c = fr["canvas"]
                rows.append((
                    mid, fr["frame_ix"], fr["duration_ms"],
                    hashlib.md5(c).hexdigest(),
                    sum(c[0::4]), sum(c[1::4]), sum(c[2::4]), sum(c[3::4]),
                ))
        except (WebpError, VP8Error, NotImplementedError):
            rows.append((mid, -1, None, None, None, None, None, None))
        return rows

    return payload_map(df, one, WEBP_CANVAS_SCHEMA)


MP3_STRUCT_SCHEMA = (
    "media_id long, n_frames int, sample_rate int, channels int, "
    "mpeg1 boolean, duration_ms double, vbr boolean, verdict string, "
    "max_reservoir_bytes int, huffman_bits long, scalefac_bits long, "
    "n_long int, n_short int, n_mixed int"
)


def mp3_structure_table(df: DataFrame) -> DataFrame:
    """Structural MP3 triage (r10): one row per payload with the frame
    walk, bit-reservoir accounting, scalefactor budgets and an integrity
    verdict (functions/mp3.mp3_structure) — the crawl-scale questions
    (intact? cut mid-frame? reservoir spliced? exact duration?) answered
    WITHOUT PCM decode, so the cost is side-info-sized, not audio-sized.

    Arrow mapInPandas, stateless, shuffle-free — payloads never leave
    their input split, identical scaling posture to extract_features.
    Unparseable payloads get verdict='not_mp3' (per-payload isolation)."""
    from ndr_import_spark.functions.mp3 import Mp3Error, mp3_structure

    cols = [
        "n_frames", "sample_rate", "channels", "mpeg1", "duration_ms",
        "vbr", "verdict", "max_reservoir_bytes", "huffman_bits",
        "scalefac_bits", "n_long", "n_short", "n_mixed",
    ]

    def one(mid, payload):
        try:
            s = mp3_structure(payload or b"")
        except Mp3Error:
            return [(mid, 0, None, None, None, 0.0, None, "not_mp3",
                     0, 0, 0, 0, 0, 0)]
        return [(mid, *[s[c] for c in cols])]

    return payload_map(df, one, MP3_STRUCT_SCHEMA)


WEBP_FRAME_SCHEMA = (
    "media_id long, frame_ix int, codec string, width int, height int, "
    "duration_ms int, pixel_md5 string"
)


def webp_frame_table(df: DataFrame) -> DataFrame:
    """Animated-WebP frame extraction + per-frame pixel decode (r9): one
    row per ANMF frame (or per still image), with the frame geometry and
    duration from the 16-byte ANMF header and `pixel_md5` the digest of
    the DECODED pixels — lossy VP8 frames through the clean-room RFC
    6386 keyframe decoder (md5 over the Y+U+V planes), VP8L frames
    through the lossless decoder (md5 over RGBA). The digest makes
    frame-level dedup a plain groupBy downstream (identical frames —
    the dominant redundancy in animation corpora — collapse regardless
    of which codec encoded them into which animation).

    Arrow mapInPandas, stateless, shuffle-free: frames of one file stay
    in one task; at 100 TB this scales with input splits exactly like
    extract_features. Decode throughput is the pure-Python test-scale
    contract (functions/vp8.py docstring); the batch plumbing is the
    production design."""
    from ndr_import_spark.functions.vp8 import VP8Error, decode_vp8_keyframe
    from ndr_import_spark.functions.webp import (
        WebpError,
        decode_vp8l,
        iter_webp_frames,
    )

    def one(mid, payload):
        # Per-payload isolation (r10 ADVICE): one malformed animation,
        # or a null payload, must not fail the whole task — emit an
        # error row (codec='error', null digest) and keep going;
        # downstream quarantines on codec='error'.
        rows = []
        try:
            for fr in iter_webp_frames(payload or b""):
                if fr["codec"] == "vp8":
                    _w, _h, y, u, v = decode_vp8_keyframe(fr["payload"])
                    digest = hashlib.md5(
                        y.tobytes() + u.tobytes() + v.tobytes()
                    ).hexdigest()
                else:
                    _w, _h, _ch, px = decode_vp8l(fr["payload"])
                    digest = hashlib.md5(px).hexdigest()
                rows.append((
                    mid, fr["frame_ix"], fr["codec"], fr["width"],
                    fr["height"], fr["duration_ms"], digest,
                ))
        except (WebpError, VP8Error, NotImplementedError):
            rows.append((mid, -1, "error", None, None, None, None))
        return rows

    return payload_map(df, one, WEBP_FRAME_SCHEMA)
