"""Stdlib MJPEG-in-AVI video codec — clean-room from the PUBLIC RIFF/AVI
container layout (Microsoft Video for Windows spec; OpenDML AVI file
format extensions) and the de-facto MJPEG convention.

Scope — the container walk plus the one video codec this repo can decode
natively:

* decode: RIFF/AVI chunk walk ('hdrl' → 'avih' main header + 'strl'
  stream headers; 'movi' → '##dc'/'##db' frame chunks, word-aligned,
  'rec ' sub-lists flattened, 'idx1' ignored), MJPG/raw-JPEG video
  frames. MJPEG frames conventionally OMIT the Huffman tables (decoders
  must supply the "typical" Annex K tables) — `_ensure_huffman` splices
  them before the SOS when a frame has no DHT, so both table-less and
  self-contained frames decode through `functions/jpeg.py` (baseline or
  progressive). Non-MJPEG streams raise `AviError` — an honest
  unsupported-codec signal.
* encode: minimal single-video-stream MJPEG AVI writer for fixtures and
  roundtrips.

No counterpart in the reference (`publichealthengland/ndr_import` has no
video handling); this backs the north-star multimodal operators in
operators/multimodal.py.
"""

from __future__ import annotations

import struct

from ndr_import_spark.functions.jpeg import (
    K_AC_CHROMA,
    K_AC_LUMA,
    K_DC_CHROMA,
    K_DC_LUMA,
    decode_jpeg,
    is_jpeg,
)


class AviError(ValueError):
    pass


def is_avi(data: bytes) -> bool:
    return (
        len(data) >= 12 and data[:4] == b"RIFF" and data[8:12] == b"AVI "
    )


def _find_sos_and_dht(frame: bytes) -> tuple[int, bool]:
    """Walk the JPEG marker stream properly (segment lengths, standalone
    markers) and return (SOS offset or -1, saw-DHT flag). A raw byte
    search for FF C4 would false-positive on segment PAYLOAD bytes (e.g.
    a DQT value 0xFF followed by 0xC4), skipping a needed table splice."""
    pos = 2
    n = len(frame)
    while pos + 4 <= n:
        if frame[pos] != 0xFF:
            return -1, False  # malformed; let decode_jpeg raise
        marker = frame[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            return -1, False
        if marker == 0xDA:
            return pos, False
        if marker == 0xC4:
            return pos, True  # a DHT exists before SOS — no splice needed
        seg_len = struct.unpack(">H", frame[pos + 2 : pos + 4])[0]
        pos += 2 + seg_len
    return -1, False


def _ensure_huffman(frame: bytes) -> bytes:
    """Splice the Annex K "typical" Huffman tables before the SOS when an
    MJPEG frame carries no DHT segment (the MJPEG convention: tables are
    implied, decoders supply them)."""
    sos, has_dht = _find_sos_and_dht(frame)
    if has_dht or sos < 0:
        return frame  # self-contained, or malformed (decoder will raise)
    dht = bytearray()
    for tclass, (bits, vals) in (
        (0x00, K_DC_LUMA),
        (0x10, K_AC_LUMA),
        (0x01, K_DC_CHROMA),
        (0x11, K_AC_CHROMA),
    ):
        dht += b"\xff\xc4" + struct.pack(">H", 19 + len(vals)) + bytes(
            [tclass] + list(bits) + list(vals)
        )
    return frame[:sos] + bytes(dht) + frame[sos:]


def decode_avi_mjpeg(data: bytes) -> tuple[int, int, int, list[bytes]]:
    """Decode AVI bytes → (width, height, us_per_frame, jpeg_frames).

    Frames are returned as self-contained JPEG byte strings (Huffman
    tables spliced in when the MJPEG frame omitted them) ready for
    `jpeg.decode_jpeg`."""
    if not is_avi(data):
        raise AviError("not an AVI (missing RIFF/AVI header)")
    width = height = 0
    us_per_frame = 0
    compression = None
    frames: list[bytes] = []
    last_stream_type = None  # fccType of the most recent strh
    # DEPTH-FIRST offset-tracking walk in STREAM ORDER: on a LIST the
    # remainder of the current run is pushed as the continuation and the
    # walk descends into the list body immediately — a naive
    # process-later stack would emit 'rec '-wrapped frames AFTER their
    # siblings (wrong frame order) and reverse multiple rec lists
    stack: list[tuple[int, int, bool]] = [(12, len(data), False)]
    while stack:
        pos, end, in_movi = stack.pop()
        while pos + 8 <= end:
            cid = data[pos : pos + 4]
            (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            if pos + 8 + size > end:
                raise AviError(f"truncated chunk {cid!r}")
            nxt = pos + 8 + size + (size & 1)
            if cid == b"LIST":
                ltype = data[pos + 8 : pos + 12]
                stack.append((nxt, end, in_movi))  # continuation
                pos = pos + 12
                end = pos - 4 + size
                in_movi = in_movi or ltype in (b"movi", b"rec ")
                continue
            if cid == b"avih":
                body = data[pos + 8 : pos + 8 + size]
                if len(body) < 40:
                    raise AviError("truncated avih header")
                us_per_frame = struct.unpack("<I", body[0:4])[0]
                width = struct.unpack("<I", body[32:36])[0]
                height = struct.unpack("<I", body[36:40])[0]
            elif cid == b"strh":
                last_stream_type = data[pos + 8 : pos + 12]
            elif cid == b"strf":
                # only the VIDEO stream's format chunk carries the codec
                # fourcc at offset 16 — an audio-first AVI's WAVEFORMATEX
                # bytes there are format extra-data, not a compression id
                body = data[pos + 8 : pos + 8 + size]
                if (
                    compression is None
                    and last_stream_type == b"vids"
                    and len(body) >= 20
                ):
                    compression = body[16:20]
            elif in_movi and cid[2:4] in (b"dc", b"db"):
                body = data[pos + 8 : pos + 8 + size]
                if body:
                    frames.append(body)
            pos = nxt
    if not frames:
        raise AviError("no video frame chunks found")
    if compression is not None and compression not in (
        b"MJPG", b"mjpg", b"\x00\x00\x00\x00", b"dmb1",
    ):
        raise AviError(
            f"unsupported AVI video codec {compression!r} (MJPEG only)"
        )
    out = []
    for f in frames:
        if not is_jpeg(f):
            raise AviError("AVI frame chunk is not a JPEG (MJPEG only)")
        out.append(_ensure_huffman(f))
    return width, height, us_per_frame, out


def encode_avi_mjpeg(
    width: int,
    height: int,
    jpeg_frames: list[bytes],
    us_per_frame: int = 40000,
) -> bytes:
    """Minimal single-stream MJPEG AVI writer (fixtures/roundtrips)."""
    if not jpeg_frames:
        raise AviError("encode_avi_mjpeg needs at least one frame")

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<IIIIIIIIII4I",
        us_per_frame, 0, 0, 0x10, len(jpeg_frames), 0, 1, 0,
        width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1,
                                        max(1_000_000 // max(us_per_frame, 1), 1),
                                        0, len(jpeg_frames), 0, 0, 0, 0)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in jpeg_frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def avi_video_decoder(
    data: bytes, frame_stride: int = 1
) -> tuple[int, int, int, int, list[float]]:
    """A ``decoder=`` for `extract_video_features`: (n_frames, width,
    height, duration_ms, per-sampled-frame mean pixel features in [0, 1]).

    Decodes every `frame_stride`-th frame through the stdlib JPEG codec
    and averages its pixels — the video twin of the image grid features /
    audio slice means."""
    if frame_stride < 1:
        raise AviError(f"frame_stride must be >= 1, got {frame_stride}")
    width, height, uspf, frames = decode_avi_mjpeg(data)
    feats = []
    for f in frames[::frame_stride]:
        w, h, ch, px = decode_jpeg(f)
        feats.append(sum(px) / (len(px) * 255.0))
    duration_ms = (uspf * len(frames)) // 1000
    return len(frames), width, height, duration_ms, feats
