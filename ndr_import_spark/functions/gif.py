"""Stdlib GIF decoder — clean-room from the PUBLIC spec (GIF87a/GIF89a,
CompuServe specification; LZW per the spec's variable-code-width scheme).

Decodes the FIRST frame of a GIF (animated GIFs: frame 1 is the standard
thumbnail/feature surface) to packed RGB:

* global + local colour tables, any bit depth 1..8;
* interlaced and non-interlaced image data (four-pass row reordering);
* Graphic Control Extension transparency (transparent pixels render as
  black — a deterministic choice; features/thumbnails need SOME value
  and callers that care about alpha inspect the GCE themselves);
* frames smaller than the logical screen are composited onto a black
  canvas at their declared offset (background-colour compositing of later
  frames is out of scope for frame 1).

Unsupported/garbage input raises `GifError` — never silent wrong pixels.

The LZW inner loop is pure Python per image (runs inside Arrow-batched
`mapInPandas` tasks); palette application and interlace reordering are
vectorised numpy. No counterpart in the reference (no image handling
there); backs operators/multimodal.py alongside png.py and jpeg.py.
"""

from __future__ import annotations

import struct

import numpy as np


class GifError(ValueError):
    pass


def is_gif(data: bytes) -> bool:
    return data[:6] in (b"GIF87a", b"GIF89a")


def _lzw_decode(min_code_size: int, data: bytes, expected: int) -> bytearray:
    """GIF variable-width LZW: codes grow 1 bit when the dictionary fills,
    capped at 12 bits; CLEAR resets, EOI terminates."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    # dictionary as (prefix_index, last_byte) with memoised expansion
    base = [(None, i) for i in range(clear)] + [None, None]

    def reset():
        return list(base), min_code_size + 1

    table, width = reset()
    prev: int | None = None
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)

    def expand(code: int) -> bytes:
        chunk = bytearray()
        c: int | None = code
        while c is not None:
            pre, b = table[c]
            chunk.append(b)
            c = pre
        chunk.reverse()
        return bytes(chunk)

    while pos < n or nbits >= width:
        while nbits < width:
            if pos >= n:
                return out  # ran out of bits: tolerate missing EOI
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table, width = reset()
            prev = None
            continue
        if code == eoi:
            return out
        if prev is None:
            if code >= len(table) or table[code] is None:
                raise GifError("LZW: first code not in dictionary")
            out += expand(code)
            prev = code
            continue
        if code < len(table) and table[code] is not None:
            entry = expand(code)
            table.append((prev, entry[0]))
        elif code == len(table):
            first = expand(prev)[0]
            table.append((prev, first))
            entry = expand(code)
        else:
            raise GifError("LZW: code out of range")
        out += entry
        prev = code
        if len(table) >= (1 << width) and width < 12:
            width += 1
        if len(out) >= expected:
            return out
    return out


def decode_gif(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode the first frame → (width, height, 3, rgb_bytes) on the
    logical screen canvas — same contract shape as png.decode_png /
    jpeg.decode_jpeg."""
    sw, sh, frames = decode_gif_frames(data, max_frames=1)
    return sw, sh, 3, frames[0][1]


def decode_gif_frames(
    data: bytes, max_frames: int = 256
) -> tuple[int, int, list[tuple[int, bytes]]]:
    """Full animation decode → (screen_w, screen_h, [(delay_cs, rgb)]).

    Each entry is the COMPOSED canvas after that frame renders, with the
    GIF89a disposal semantics between frames: 0/1 leave the canvas, 2
    clears the frame's rectangle (to zeros — the transparent-background
    convention renderers use), 3 restores the canvas to its state before
    the frame. Transparent pixels never overwrite the underlying canvas
    (which is also what makes the first frame match the old single-frame
    contract: the initial canvas is zeros). `max_frames` bounds hostile
    frame counts the same way the compression decoders bound output."""
    if not is_gif(data):
        raise GifError("not a GIF (missing GIF87a/GIF89a signature)")
    if len(data) < 13:
        raise GifError("truncated GIF header")
    try:
        return _decode_frames(data, max_frames)
    except GifError:
        raise
    except (IndexError, ValueError, struct.error) as exc:
        # truncated block structure surfaces as IndexError/struct.error
        # from slicing or as numpy reshape ValueErrors (e.g. a colour
        # table cut short) — all must honour the GifError contract
        raise GifError(f"truncated or corrupt GIF stream: {exc}") from exc


def _decode_frames(
    data: bytes, max_frames: int
) -> tuple[int, int, list[tuple[int, bytes]]]:
    sw, sh, packed, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    if sw == 0 or sh == 0:
        raise GifError("zero logical screen dimension")
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
        if gct.shape[0] != n:
            raise GifError("truncated global colour table")
        pos += 3 * n

    canvas = np.zeros((sh, sw, 3), dtype=np.uint8)
    frames: list[tuple[int, bytes]] = []
    transparent_idx = None
    delay_cs = 0
    disposal = 0
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = data[pos]
            pos += 1
            if label == 0xF9:  # Graphic Control Extension
                size = data[pos]
                gce = data[pos + 1 : pos + 1 + size]
                if size >= 4:
                    disposal = (gce[0] >> 2) & 0x07
                    delay_cs = gce[1] | (gce[2] << 8)
                    transparent_idx = gce[3] if gce[0] & 0x01 else None
                pos += 1 + size
                if data[pos] != 0:
                    raise GifError("unterminated GCE")
                pos += 1
            else:  # skip sub-blocks (comment, app, plain text)
                if label == 0x01:
                    pos += 1 + data[pos]  # plain-text header block
                while True:
                    size = data[pos]
                    pos += 1
                    if size == 0:
                        break
                    pos += size
            continue
        if block != 0x2C:
            raise GifError(f"unexpected block {block:#x}")
        # image descriptor
        ix, iy, iw, ih, ipacked = struct.unpack("<HHHHB", data[pos : pos + 9])
        pos += 9
        if iw == 0 or ih == 0:
            raise GifError("zero image dimension")
        ct = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            ct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
            pos += 3 * n
        if ct is None:
            raise GifError("image has no colour table")
        interlaced = bool(ipacked & 0x40)
        min_code_size = data[pos]
        pos += 1
        if not 2 <= min_code_size <= 11:
            raise GifError(f"bad LZW minimum code size {min_code_size}")
        lzw = bytearray()
        while True:
            size = data[pos]
            pos += 1
            if size == 0:
                break
            lzw += data[pos : pos + size]
            pos += size
        idx = _lzw_decode(min_code_size, bytes(lzw), iw * ih)
        if len(idx) < iw * ih:
            raise GifError(
                f"LZW underrun: {len(idx)} of {iw * ih} pixels decoded"
            )
        indices = np.frombuffer(bytes(idx[: iw * ih]), dtype=np.uint8).reshape(
            ih, iw
        )
        if interlaced:
            deinter = np.empty_like(indices)
            rows = np.concatenate([
                np.arange(0, ih, 8),
                np.arange(4, ih, 8),
                np.arange(2, ih, 4),
                np.arange(1, ih, 2),
            ])
            deinter[rows] = indices
            indices = deinter
        if int(indices.max()) >= ct.shape[0]:
            raise GifError("pixel index outside colour table")
        y2, x2 = min(iy + ih, sh), min(ix + iw, sw)
        vis = indices[: y2 - iy, : x2 - ix]
        region = canvas[iy:y2, ix:x2]
        before = canvas.copy() if disposal == 3 else None
        frame_rgb = ct[vis]
        if transparent_idx is not None:
            # transparent pixels leave the UNDERLYING canvas visible
            mask = vis != transparent_idx
            region[mask] = frame_rgb[mask]
        else:
            region[...] = frame_rgb
        frames.append((delay_cs, canvas.tobytes()))
        if len(frames) >= max_frames:
            return sw, sh, frames
        # inter-frame disposal (applies AFTER the frame was shown)
        if disposal == 2:
            canvas[iy:y2, ix:x2] = 0
        elif disposal == 3 and before is not None:
            canvas = before
        transparent_idx = None
        delay_cs = 0
        disposal = 0
    if not frames:
        raise GifError("GIF contains no image data")
    return sw, sh, frames


def _lzw_emit(indices, min_code: int) -> bytes:
    """Clear-code-per-symbol LZW (valid, unoptimised) shared by the
    still and animation encoders."""
    clear = 1 << min_code
    eoi = clear + 1
    width_bits = min_code + 1
    acc = 0
    nbits = 0
    payload = bytearray()

    def put(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width_bits
        while nbits >= 8:
            payload.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    for v in indices.ravel().tolist():
        put(clear)
        put(int(v))
    put(eoi)
    if nbits:
        payload.append(acc & 0xFF)
    out = bytearray([min_code])
    for i in range(0, len(payload), 255):
        chunk = payload[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00"
    return bytes(out)


def _build_palette(pixel_arrays):
    """Shared GCT over every frame's pixels (<=256 distinct colours)."""
    allpix = np.concatenate([a.reshape(-1, 3) for a in pixel_arrays])
    colours = np.unique(allpix, axis=0)
    if colours.shape[0] > 256:
        raise GifError("fixture encoders support <=256 distinct colours")
    depth = max(2, int(colours.shape[0] - 1).bit_length())
    table_n = 1 << depth
    palette = np.zeros((table_n, 3), dtype=np.uint8)
    palette[: colours.shape[0]] = colours
    return palette, colours, depth


def _indices_for(arr, colours):
    flat = arr.reshape(-1, 3)
    # row-wise lookup into the sorted unique colour table
    keys = (colours[:, 0].astype(np.int64) << 16) | (
        colours[:, 1].astype(np.int64) << 8) | colours[:, 2]
    vals = (flat[:, 0].astype(np.int64) << 16) | (
        flat[:, 1].astype(np.int64) << 8) | flat[:, 2]
    return np.searchsorted(keys, vals).astype(np.uint8)


def encode_gif(width: int, height: int, rgb: bytes) -> bytes:
    """Minimal GIF89a encoder for fixtures/round-trips: builds a palette
    from the distinct colours (≤256 required), emits ONE non-interlaced
    frame with clear-code-per-symbol LZW (valid, unoptimised output)."""
    arr = np.frombuffer(bytes(rgb), dtype=np.uint8)
    if arr.size != width * height * 3:
        raise GifError("pixel buffer does not match dimensions")
    palette, colours, depth = _build_palette([arr])
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | (depth - 1), 0, 0)
    out += palette.tobytes()
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, width, height, 0)
    out += _lzw_emit(_indices_for(arr, colours), depth)
    out += b"\x3b"
    return bytes(out)


def encode_gif_animation(
    width: int,
    height: int,
    frames: list[tuple[int, bytes]],
    loop: int = 0,
) -> bytes:
    """Animated GIF89a fixture encoder: `frames` is [(delay_cs, rgb)],
    full-frame replacement (disposal 1), one shared global colour table,
    a NETSCAPE2.0 loop block (`loop`=0 means forever). Round-trips
    exactly through decode_gif_frames — the animation twin of the still
    codec, exercising GCE delays and multi-image composition."""
    if not frames:
        raise GifError("animation needs at least one frame")
    arrs = []
    for _, rgb in frames:
        arr = np.frombuffer(bytes(rgb), dtype=np.uint8)
        if arr.size != width * height * 3:
            raise GifError("frame pixel buffer does not match dimensions")
        arrs.append(arr)
    palette, colours, depth = _build_palette(arrs)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | (depth - 1), 0, 0)
    out += palette.tobytes()
    # NETSCAPE2.0 application extension: animation loop count
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01" + struct.pack("<H", loop) + b"\x00"
    for delay_cs, arr in zip((d for d, _ in frames), arrs):
        # GCE: disposal 1 (leave), no transparency, the frame's delay
        out += b"\x21\xf9\x04" + bytes([0x04]) + struct.pack(
            "<H", delay_cs) + b"\x00\x00"
        out += struct.pack("<BHHHHB", 0x2C, 0, 0, width, height, 0)
        out += _lzw_emit(_indices_for(arr, colours), depth)
    out += b"\x3b"
    return bytes(out)


def gif_video_decoder(data: bytes) -> tuple[int, int, int, int, list[float]]:
    """`extract_video_features`-shaped decoder over an animated GIF:
    (n_frames, width, height, duration_ms, per-frame mean/255).
    Delays are GIF centiseconds -> ms x10; frames are the COMPOSED
    canvases, so disposal/transparency affect the features exactly as a
    renderer would show them."""
    sw, sh, frames = decode_gif_frames(data)
    duration_ms = sum(d for d, _ in frames) * 10
    feats = [
        float(np.frombuffer(px, dtype=np.uint8).mean()) / 255.0 for _d, px in frames
    ]
    return len(frames), sw, sh, duration_ms, feats
