"""Pinned decode output of the JPEG and WebP lossless (VP8L) entropy
decoders.

A seeded set of streams from the repo's own encoders (and, for the VP8L
features `encode_webp` never emits, from the system libwebp) decodes to
pixels whose sha256 is pinned here.  The pins were taken from the
bit-serial decoders and must not move when the entropy decoding changes:
a table-driven decoder has to return byte-identical pixels.

Each stream also has a pinned digest over a fixed, seeded set of damaged
variants (truncations and single-bit flips): the sequence of outcomes —
the exception class, or the pixel hash when the variant still decodes —
must stay the same too.  A hypothesis case then checks random damage:
every variant raises the codec's own error class or decodes to a well
formed image, and none hangs.
"""

from __future__ import annotations

import contextlib
import hashlib
import random
import signal

import numpy as np
import pytest
from hypothesis import assume, given, settings
from hypothesis import strategies as st

from ndr_import_spark.functions import jpeg as J
from ndr_import_spark.functions import webp as W


def _rgb(seed: int, w: int, h: int, noise: float) -> bytes:
    """Gradient + gaussian noise + one hard-edged patch, as RGB24."""
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [xx * 255.0 / w, yy * 255.0 / h, (xx + yy) * 127.0 / (w + h)], axis=2
    )
    img = img + rng.normal(0.0, noise, (h, w, 3))
    img[h // 3: h // 2, w // 4: 3 * w // 4] = rng.integers(0, 256, 3)
    return np.clip(img, 0, 255).astype(np.uint8).tobytes()


def _rgba(rgb: bytes, alpha) -> bytes:
    px = np.frombuffer(rgb, dtype=np.uint8).reshape(-1, 3)
    a = np.broadcast_to(np.asarray(alpha, dtype=np.uint8), (len(px),))
    return np.concatenate([px, a[:, None]], axis=1).tobytes()


def _palette_rgba(seed: int, w: int, h: int, colours: int) -> bytes:
    rng = random.Random(seed)
    pal = [bytes(rng.randrange(256) for _ in range(3)) + b"\xff"
           for _ in range(colours)]
    return b"".join(pal[rng.randrange(colours)] for _ in range(w * h))


def _tiles_rgba(seed: int, w: int, h: int) -> bytes:
    """Repeating 3x2 tiles: long LZ77 copies and colour-cache hits."""
    rng = random.Random(seed)
    tiles = [bytes(rng.randrange(1, 256) for _ in range(4)) for _ in range(40)]
    return b"".join(tiles[(x // 3 + (y // 2) * 7) % 40]
                    for y in range(h) for x in range(w))


def _gray(rgb: bytes) -> bytes:
    return rgb[1::3]


# name -> a function that builds the stream; `_decode` turns a stream into
# (width, height, channels, pixels)
_RGB = _rgb(1, 45, 37, 8.0)
_NOISY = _rgb(2, 24, 16, 60.0)
_LITERAL_RGBA = _rgba(_rgb(4, 19, 13, 20.0), np.arange(19 * 13) % 251 + 1)

JPEGS = {
    "jpeg_444": lambda: J.encode_jpeg(45, 37, _RGB, quality=90),
    "jpeg_420": lambda: J.encode_jpeg(45, 37, _RGB, quality=75,
                                      subsampling="4:2:0"),
    "jpeg_422": lambda: J.encode_jpeg(45, 37, _RGB, quality=50,
                                      subsampling="4:2:2"),
    "jpeg_gray": lambda: J.encode_jpeg(45, 37, _gray(_RGB), channels=1,
                                       quality=85),
    "jpeg_dri_420": lambda: J.encode_jpeg(45, 37, _RGB, quality=80,
                                          subsampling="4:2:0",
                                          restart_interval=2),
    # quality 100 on noise: large coefficients, Huffman codes of 10-16 bits
    "jpeg_noise_q100": lambda: J.encode_jpeg(24, 16, _NOISY, quality=100),
    "jpeg_prog_444": lambda: J.encode_jpeg_progressive(45, 37, _RGB,
                                                       quality=90),
    "jpeg_prog_420_dri": lambda: J.encode_jpeg_progressive(
        45, 37, _RGB, quality=75, subsampling="4:2:0", restart_interval=3),
    "jpeg_prog_gray": lambda: J.encode_jpeg_progressive(
        45, 37, _gray(_RGB), channels=1, quality=85),
}

VP8LS = {
    "webp_literal": lambda: W.encode_webp(37, 29, _rgb(3, 37, 29, 20.0)),
    "vp8l_literal_alpha": lambda: W.build_webp_container([(
        b"VP8L", W.encode_vp8l_chunk(19, 13, _LITERAL_RGBA))]),
}

# libwebp lossless inputs: name -> (width, height, RGBA builder); the
# comment names what the stream exercises
LOSSLESS_INPUTS = {
    # predictor + colour transforms, colour cache, meta prefix codes
    "libwebp_photo": (64, 48, lambda: _rgba(_rgb(5, 64, 48, 3.0), 255)),
    # colour indexing with 4 pixels bundled per coded pixel
    "libwebp_palette3": (40, 30, lambda: _palette_rgba(6, 40, 30, 3)),
    # colour indexing, 2 pixels per coded pixel
    "libwebp_palette12": (40, 30, lambda: _palette_rgba(7, 40, 30, 12)),
    # colour indexing, no bundling
    "libwebp_palette100": (50, 40, lambda: _palette_rgba(8, 50, 40, 100)),
    # LZ77 backward references and colour cache
    "libwebp_tiles": (60, 40, lambda: _tiles_rgba(9, 60, 40)),
    # subtract-green, 256-entry colour cache
    "libwebp_noise": (32, 32, lambda: _rgba(
        _rgb(10, 32, 32, 90.0),
        np.random.default_rng(10).integers(1, 256, 32 * 32))),
}

LIBWEBP = {
    name: (lambda w=w, h=h, rgba=rgba: W.libwebp_encode_rgba(rgba(), w, h))
    for name, (w, h, rgba) in LOSSLESS_INPUTS.items()
}
# lossy VP8 + ALPH chunk whose alpha plane is a headerless VP8L stream
LIBWEBP["libwebp_alph"] = lambda: W.libwebp_encode_rgba(
    _rgba(_rgb(11, 40, 24, 10.0), np.arange(40 * 24) % 256), 40, 24,
    lossless=False)


def _decode(name: str, data: bytes):
    if name.startswith("jpeg"):
        return J.decode_jpeg(data)
    if name == "libwebp_alph":
        w, h, alpha = W.decode_webp_alpha(data)
        return w, h, 1, alpha
    return W.decode_webp(data)


# sha256 of the decoded pixels, taken from the bit-serial decoders
PIXEL_PINS = {
    "jpeg_444":
        "ea7ed04eac28d02bd6af568114da5f29e9319a39bab2025b9c57761cff172b76",
    "jpeg_420":
        "766b4662255f108902473ca7113df2fed49929c79e6547ce0ed34f13a1481cee",
    "jpeg_422":
        "fedcc41681daf1fee7779c79e2b8126ce95f75b37c76a0e891f00e8d040689c4",
    "jpeg_gray":
        "3e6add62c2afa0a1f5e78edb0b749ae6d04ed056d611996d7669ee4a1986dc00",
    "jpeg_dri_420":
        "7fb6f81760235a114539b9bdaf7f0f1c9a1bfdd33ba2f791b9298e4b801d8a2f",
    "jpeg_noise_q100":
        "0f78ae535a994bfbbb5ecf536fd0c75c8859601dd8ef29fe7a43cee9362767e5",
    "jpeg_prog_444":
        "ea7ed04eac28d02bd6af568114da5f29e9319a39bab2025b9c57761cff172b76",
    "jpeg_prog_420_dri":
        "766b4662255f108902473ca7113df2fed49929c79e6547ce0ed34f13a1481cee",
    "jpeg_prog_gray":
        "3e6add62c2afa0a1f5e78edb0b749ae6d04ed056d611996d7669ee4a1986dc00",
    "webp_literal":
        "18a61715f138e1936f5fdde613785f4898c8a8b1b44f31cd88eb2546b2381793",
    "vp8l_literal_alpha":
        "27f3ac4fd48d19daae4f3b4d3e30fdcf95877cef315a2b3eb2205d0b8178f921",
    "libwebp_photo":
        "a17bab8491389f6f118c75949e5d0acf2cedea80af7412b705e6cb58347da9bc",
    "libwebp_palette3":
        "bfa6088db605e3799f1ad72df8f15eb55aab13a02f2ac86f7de4bbc63e6ba522",
    "libwebp_palette12":
        "2d2b43a3aa56085d9cfc94c3b88d4529d470837a15825ca7dc13035b9222d7a3",
    "libwebp_palette100":
        "9eef2f2b9fd81fb175c14fb112a73638739feef144c9a61fc041ef3b75585484",
    "libwebp_tiles":
        "210fde0cf5b130b1587ffa2ffdbec2d806035a1377a1c4c8cd7f598c9ce2f75e",
    "libwebp_noise":
        "05d2fe12612c5264e9fbf2e72e2734107d773ea1c194c896ff3d9bf4ad76326a",
    "libwebp_alph":
        "a71fc3a6fd76b98c8eb924c7d592fa78121932d52bc23dc50d7b4f1eb43dd7a7",
}

# sha256 over the outcomes of the seeded damaged variants (`_variants`)
DAMAGE_PINS = {
    "jpeg_444":
        "0a21d2d6bf315cb0a2cb6b3f5f1bc6e1953855567b3a8c1db131e3d96236cf90",
    "jpeg_420":
        "db5a686e5dee6c750ef921d50dfee35daf52fa76fec3856c41aaa30146209e4f",
    "jpeg_422":
        "227675fe65b0994bc80a0a7cb3bcc456998f639ec1d71bfa985faa3609b0a5a0",
    "jpeg_gray":
        "fee65f617d066cbfa8d79c94db7a2e21fc8aae8690554582de92df6ef20427c4",
    "jpeg_dri_420":
        "db538243b0347cdbd151681438f486c281943f3ac349ce5807d7f1253359ec77",
    "jpeg_noise_q100":
        "0edba6909152f6fa1225fb7f5b5559c50e10cabe97314ef1019ac33b13177198",
    "jpeg_prog_444":
        "9a09742ccc0b4597104205429d6701ac75694275424b28f88ee2b61134521bcd",
    "jpeg_prog_420_dri":
        "58c48d61eb48a3c5748a8ac70793696b65f4b8c639c999de56e190520bebea61",
    "jpeg_prog_gray":
        "7497ed6f993ecb6def18502bacd1543e7eafe4aa4494075624f718a2f3ac11a0",
    "webp_literal":
        "9ee778349b2955e4b3d2fe85b85c752d726b16c2bc4dfc9efff1e16b59d404f5",
    "vp8l_literal_alpha":
        "bd75782dd1b68fe60362fc3dedbad0cbf1e69572a62411f6120cbc5f904aa324",
    "libwebp_photo":
        "7c814ba193cfe9d619bd12144d612ac8d4e5221489825bbc4d38005b9ca6a517",
    "libwebp_palette3":
        "88a3fe617c601208caea1308b28ab615f17cfc6e5a5033940e70499dc5651928",
    "libwebp_palette12":
        "e5fefedc363b896e917abda08bc5c5a502b9d6312df39f6defc9bf05588e3a1e",
    "libwebp_palette100":
        "3b72e22a2df6a1dcec32c956f788bcd5f95b4830840ca8a589993e31422ecbd2",
    "libwebp_tiles":
        "c47a8d9d8f6873b3280bef5b858253b8f6e3efedf9bbd11e1c2915e6b7da2abd",
    "libwebp_noise":
        "1ab1f26d9f3c41f2fb1d3fca992b28afcfcf5805752367d4d0113f5ff14dd228",
    "libwebp_alph":
        "378e66cf5aa5892784a84e27a95cdbe4856dc7a9595eb13d3fb93fb956e7e5c6",
}

# sha256 of the libwebp streams the damage pins were taken from: another
# libwebp build may encode differently, which moves those pins
LIBWEBP_STREAM_PINS = {
    "libwebp_photo":
        "74d3e5c6e157a9acecf918b0ef1c57a3cd01dda96dcec51ab404836b5b635eb8",
    "libwebp_palette3":
        "3bbed769fdebee00399ea05fbef8aa6a31fa529d0497d871ef42b4573932fb79",
    "libwebp_palette12":
        "bd7c286edaa7a03141689e91795faca668a5b7d6630f76137c8a045f872ef599",
    "libwebp_palette100":
        "a75cce56261be7708027bd3fc1f3d91ca353d8e273d413fd8676c2585087dbc6",
    "libwebp_tiles":
        "7204b309b44df6bf1ef16cb4d1c445bc1e933f0ff96bcfea8375096425dfbf46",
    "libwebp_noise":
        "5a5008341f84ab6e33ebf36c56205e34e0dfa237f7765fd475fbe887bd38de6b",
    "libwebp_alph":
        "e13af4982cf48891fbdfa1d1246ed16fd153df8e18e7ccea8f1dbbe94eff7340",
}


_CACHE: dict[str, bytes] = {}


def _stream(name: str) -> bytes:
    if name not in _CACHE:
        build = {**JPEGS, **VP8LS, **LIBWEBP}[name]
        if name in LIBWEBP and not W._load_libwebp():
            pytest.skip("libwebp.so.7 (reference encoder) not present")
        _CACHE[name] = build()
    return _CACHE[name]


def _digest(pixels: bytes) -> str:
    return hashlib.sha256(pixels).hexdigest()


def _error_class(name: str):
    return J.JpegError if name.startswith("jpeg") else W.WebpError


class _Hang(Exception):
    pass


@contextlib.contextmanager
def _time_limit(seconds: float):
    """Raise _Hang if the body runs longer than `seconds` (SIGALRM)."""
    def on_alarm(signum, frame):
        raise _Hang(f"decode ran longer than {seconds} s")

    old = signal.signal(signal.SIGALRM, on_alarm)
    signal.setitimer(signal.ITIMER_REAL, seconds)
    try:
        yield
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, old)


def _outcome(name: str, data: bytes) -> str:
    """'err:<class>' or 'ok:<w>x<h>x<c>:<pixel sha>' — any other exception
    propagates and fails the caller."""
    try:
        with _time_limit(20.0):
            w, h, c, px = _decode(name, data)
    except _error_class(name) as exc:
        return f"err:{type(exc).__name__}"
    assert len(px) == w * h * c
    return f"ok:{w}x{h}x{c}:{_digest(px)[:16]}"


def _variants(name: str, data: bytes) -> list[bytes]:
    """12 truncations at evenly spaced lengths, then 24 single-bit flips
    at seeded positions."""
    n = len(data)
    out = [data[: n * i // 12] for i in range(12)]
    rng = random.Random(name)
    for _ in range(24):
        flipped = bytearray(data)
        flipped[rng.randrange(n)] ^= 1 << rng.randrange(8)
        out.append(bytes(flipped))
    return out


ALL = list(PIXEL_PINS)


@pytest.mark.parametrize("name", ALL)
def test_decoded_pixels_match_pin(name):
    w, h, c, px = _decode(name, _stream(name))
    assert len(px) == w * h * c
    assert _digest(px) == PIXEL_PINS[name]


@pytest.mark.parametrize("name", ["vp8l_literal_alpha", *LOSSLESS_INPUTS])
def test_lossless_streams_decode_to_their_input(name):
    # libwebp keeps RGB exactly where alpha > 0, which every input has
    rgba = (_LITERAL_RGBA if name == "vp8l_literal_alpha"
            else LOSSLESS_INPUTS[name][2]())
    assert _decode(name, _stream(name))[3] == rgba


@pytest.mark.parametrize("name", ALL)
def test_damaged_variants_match_pin(name):
    data = _stream(name)
    if name in LIBWEBP and _digest(data) != LIBWEBP_STREAM_PINS[name]:
        pytest.skip("this libwebp build encodes a different stream")
    outcomes = [_outcome(name, v) for v in _variants(name, data)]
    assert _digest("\n".join(outcomes).encode()) == DAMAGE_PINS[name]


@given(
    name=st.sampled_from(ALL),
    cut=st.floats(min_value=0.0, max_value=1.0),
    flips=st.lists(st.tuples(st.floats(min_value=0.0, max_value=1.0),
                             st.integers(min_value=0, max_value=7)),
                   max_size=3),
)
@settings(max_examples=80, deadline=None)
def test_damage_raises_codec_error_or_decodes(name, cut, flips):
    assume(name not in LIBWEBP or W._load_libwebp())
    data = bytearray(_stream(name))
    for where, bit in flips:
        data[min(int(where * len(data)), len(data) - 1)] ^= 1 << bit
    cut_at = int(cut * len(data))
    damaged = bytes(data[:cut_at])
    outcome = _outcome(name, damaged)
    if (not flips and outcome.startswith("ok:")
            and not name.startswith("jpeg_prog")):
        # a prefix that still decodes held every bit the decoder reads
        # (a progressive file cut between scans decodes to the coarser
        # image, so it is left out)
        assert outcome.endswith(PIXEL_PINS[name][:16])
