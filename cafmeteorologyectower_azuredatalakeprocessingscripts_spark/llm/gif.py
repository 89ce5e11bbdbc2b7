"""GIF codec (stdlib + numpy) for the multimodal stages — the seventh
real codec, closing the last lossless web-corpus image format (after
PNG/BMP/TIFF/JPEG images and WAV audio).

GIF is palette + LZW: a logical-screen header, optional global/local
color tables, extension blocks, then image data as variable-width
(3-12 bit) LZW codes in length-prefixed sub-blocks. The decode is one
block walk (:func:`_walk`, shared by both decoders) + the sequential
LZW loop TIFF also uses (inherently per-code, like the PNG Paeth rows
and BMP RLE runs) + one numpy palette gather.

Scope (everything else raises ``GifUnsupported`` and callers fall back
to the digest stub, exactly like the other codecs):

- GIF87a and GIF89a; :func:`decode_gif` returns the FIRST frame (the
  baseline-reader behavior, mirroring TIFF IFD0 for multi-page
  files); :func:`decode_gif_frames` demuxes ANIMATIONS into
  composited canvas snapshots honoring transparency and disposal
  methods — the real backend of the frame-sampling stage;
- global or local color table; interlaced and non-interlaced;
- GIF89a graphic-control transparency: a transparent index makes the
  output RGBA; a grayscale-identity palette (the BMP rule) collapses
  to 1 channel; anything else decodes to RGB;
- every extension block is walked via its own sub-block lengths.

Decode output matches the other image codecs: ``(width, height,
channels, pixel_bytes)`` row-major top-down — the frame is composited
onto the logical-screen canvas at its declared offset, background
filled with the background-color index.

Amplification guards: LZW can expand enormously, so output is
allocated AT the declared frame geometry (bounded by the output cap
every image codec shares, ``_codec.MAX_OUTPUT_BYTES``) and the LZW
loop STOPS the moment the pixel budget is filled — a hostile stream
cannot make a worker allocate or write beyond the header's own width
x height, and every sub-block length is validated against the bytes
actually present.

This runs INSIDE Arrow-batched ``mapInPandas`` workers; nothing here
touches the driver.
"""

from __future__ import annotations

import itertools
import struct

import numpy as np

from ._codec import check_cap, is_gray_identity, lzw_decode, lzw_encode


class GifUnsupported(ValueError):
    """Payload is not a GIF this codec handles (bad magic, corrupt
    block structure, or malformed LZW stream)."""


def is_gif(payload: bytes) -> bool:
    return payload is not None and bytes(payload[:6]) in (b"GIF87a", b"GIF89a")


def _color_table(data: bytes, pos: int, flags: int) -> tuple[np.ndarray | None, int]:
    if not flags & 0x80:
        return None, pos
    n = 2 << (flags & 0x07)
    if pos + 3 * n > len(data):
        raise GifUnsupported("color table overruns payload")
    tab = np.frombuffer(data, dtype=np.uint8, count=3 * n, offset=pos).reshape(n, 3)
    return tab, pos + 3 * n


def _subblocks(data: bytes, pos: int) -> tuple[bytes, int]:
    """Gather one chain of length-prefixed sub-blocks (extension body
    or image data), each length validated against the bytes present →
    ``(joined bytes, position after the terminator)``."""
    chunks = []
    while True:
        if pos >= len(data):
            raise GifUnsupported("sub-blocks overrun payload")
        ln = data[pos]
        pos += 1
        if ln == 0:
            return b"".join(chunks), pos
        if pos + ln > len(data):
            raise GifUnsupported("sub-block overruns payload")
        chunks.append(data[pos : pos + ln])
        pos += ln


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> np.ndarray:
    """Stored row i of an interlaced image is display row order[i]."""
    return np.array(
        [r for start, step in _INTERLACE_PASSES for r in range(start, h, step)]
    )


def _walk(payload: bytes):
    """The one GIF block walk. Yields the logical screen ``(width,
    height, background index, global color table)`` first, then per
    image ``(left, top, indices (fh, fw), palette, transparent,
    disposal)`` with the graphic-control extension that preceded it
    (a later image without one gets ``None`` / 0). Ends at the trailer
    or at payload end; LZW runs only when the caller asks for the next
    image, so the caller's output cap is checked first."""
    data = bytes(payload)
    if not is_gif(data):
        raise GifUnsupported("bad signature")
    if len(data) < 13:
        raise GifUnsupported("truncated header")
    cw, ch_, flags, bg, _ar = struct.unpack_from("<HHBBB", data, 6)
    if cw == 0 or ch_ == 0:
        raise GifUnsupported("zero canvas dimension")
    gct, pos = _color_table(data, 13, flags)
    yield cw, ch_, bg, gct
    transparent = None
    disposal = 0
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            return
        if block == 0x21:  # extension
            if pos >= len(data):
                raise GifUnsupported("extension overruns payload")
            label = data[pos]
            pos += 1
            if label == 0xF9 and pos + 6 <= len(data) and data[pos] == 4:
                gflags, _delay, tindex = struct.unpack_from("<BHB", data, pos + 1)
                transparent = tindex if gflags & 0x01 else None
                disposal = (gflags >> 2) & 0x07
            _, pos = _subblocks(data, pos)
            continue
        if block != 0x2C:
            raise GifUnsupported(f"unknown block 0x{block:02x}")
        if pos + 9 > len(data):
            raise GifUnsupported("image descriptor truncated")
        left, top, fw, fh, iflags = struct.unpack_from("<HHHHB", data, pos)
        pos += 9
        if fw == 0 or fh == 0 or left + fw > cw or top + fh > ch_:
            raise GifUnsupported("frame exceeds canvas")
        lct, pos = _color_table(data, pos, iflags)
        palette = lct if lct is not None else gct
        if palette is None:
            raise GifUnsupported("no color table")
        if pos >= len(data):
            raise GifUnsupported("missing LZW data")
        min_code = data[pos]
        # GIF-legal range is 2..8 (roots are palette indices, max 256),
        # the range the shared root tables hold; any other value must
        # raise GifUnsupported, not a bare error that escapes the
        # fallback routing in multimodal.py.
        if not 2 <= min_code <= 8:
            raise GifUnsupported(f"LZW minimum code size {min_code}")
        stream, pos = _subblocks(data, pos + 1)
        px = lzw_decode(stream, min_code, fw * fh, False, 0, GifUnsupported)
        if len(px) < fw * fh:
            raise GifUnsupported("LZW stream shorter than frame")
        idx = np.frombuffer(px, dtype=np.uint8).reshape(fh, fw)
        if (idx >= len(palette)).any():
            raise GifUnsupported("pixel index beyond color table")
        if iflags & 0x40:
            rows = np.empty_like(idx)
            rows[_interlace_order(fh)] = idx
            idx = rows
        yield left, top, idx, palette, transparent, disposal
        transparent = None
        disposal = 0


def decode_gif(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode the first frame of a GIF payload -> ``(width, height,
    channels, pixel_bytes)`` composited on the logical-screen canvas;
    channels 1 (grayscale-identity palette), 3 (RGB) or 4 (RGBA when a
    transparent index is declared)."""
    walk = _walk(payload)
    cw, ch_, bg, _gct = next(walk)
    check_cap(cw * ch_ * 4, f"{cw}x{ch_} canvas", GifUnsupported)
    frame = next(walk, None)
    if frame is None:
        raise GifUnsupported("no image frame in file")
    left, top, idx, palette, transparent, _disposal = frame
    fh, fw = idx.shape

    # composite the frame on the canvas; background = bg index color
    canvas_idx = np.full((ch_, cw), bg if bg < len(palette) else 0, dtype=np.uint8)
    canvas_idx[top : top + fh, left : left + fw] = idx
    if transparent is None and is_gray_identity(palette):
        return cw, ch_, 1, canvas_idx.tobytes()
    if transparent is not None:
        rgba = np.empty((ch_, cw, 4), dtype=np.uint8)
        rgba[:, :, :3] = palette[canvas_idx]
        rgba[:, :, 3] = np.where(canvas_idx == transparent, 0, 255)
        return cw, ch_, 4, rgba.tobytes()
    return cw, ch_, 3, palette[canvas_idx].tobytes()


def _image_data(indices: np.ndarray) -> bytes:
    """LZW minimum code size 8 + the shared coder's output in
    length-prefixed sub-blocks."""
    out = lzw_encode(indices.tobytes(), 8, False, 0)
    blocks = bytearray([8])
    for i in range(0, len(out), 255):
        chunk = out[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return bytes(blocks)


def encode_gif(
    width: int,
    height: int,
    channels: int,
    pixels: bytes,
    interlace: bool = False,
    transparent: int | None = None,
) -> bytes:
    """Encode pixels as a single-frame GIF. ``channels`` 1 writes a
    grayscale-identity 256-entry palette with the pixel bytes as
    indices (lossless — the fixture path); ``channels`` 3 quantizes
    NOTHING: it requires <= 256 distinct colors and builds the exact
    palette, raising ``GifUnsupported`` otherwise. ``transparent``
    marks that palette index in a GIF89a graphic-control extension."""
    arr = np.frombuffer(bytes(pixels), dtype=np.uint8)
    if arr.size != width * height * channels:
        raise GifUnsupported("pixel buffer does not match dimensions")
    if channels == 1:
        idx = arr.copy()
        palette = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
    elif channels == 3:
        px = arr.reshape(-1, 3)
        colors, inverse = np.unique(px, axis=0, return_inverse=True)
        if len(colors) > 256:
            raise GifUnsupported("more than 256 distinct colors")
        palette = np.zeros((256, 3), dtype=np.uint8)
        palette[: len(colors)] = colors
        idx = inverse.astype(np.uint8)
    else:
        raise GifUnsupported(f"{channels} channels")
    if interlace:
        idx = idx.reshape(height, width)[_interlace_order(height)]

    out = bytearray(b"GIF89a" if transparent is not None else b"GIF87a")
    out += struct.pack("<HHBBB", width, height, 0x80 | 0x07, 0, 0)
    out += palette.tobytes()
    if transparent is not None:
        out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0])
    out += bytes([0x2C]) + struct.pack(
        "<HHHHB", 0, 0, width, height, 0x40 if interlace else 0
    )
    out += _image_data(idx)
    out += bytes([0x3B])
    return bytes(out)


def decode_gif_frames(
    payload: bytes, max_frames: int = 256
) -> tuple[int, int, list[bytes]]:
    """Decode an ANIMATED GIF into composited RGB canvas snapshots —
    the real demuxer behind the frame-sampling stage (GIF is the one
    animation container decodable without codec libraries). Returns
    ``(width, height, frames)`` with each frame the full canvas as
    interleaved RGB bytes after that image was drawn, honoring the
    GIF89a graphic-control semantics: per-frame transparency (holes
    keep prior content), disposal 0/1 (leave), 2 (restore the frame
    RECT to background) and 3 (restore to previous canvas). Output is
    bounded by ``max_frames`` x canvas under the shared constant cap —
    never by stream content."""
    walk = _walk(payload)
    cw, ch_, bg, gct = next(walk)
    check_cap(
        cw * ch_ * 3 * max(1, max_frames),
        f"{cw}x{ch_} canvas x {max_frames} frames",
        GifUnsupported,
    )
    if gct is not None and bg < len(gct):
        bg_rgb = gct[bg]
    else:
        bg_rgb = np.zeros(3, dtype=np.uint8)
    canvas = np.empty((ch_, cw, 3), dtype=np.uint8)
    canvas[:] = bg_rgb
    frames: list[bytes] = []
    for left, top, idx, palette, transparent, disposal in itertools.islice(
        walk, max(max_frames, 0)
    ):
        fh, fw = idx.shape
        prev = canvas.copy() if disposal == 3 else None
        region = canvas[top : top + fh, left : left + fw]
        if transparent is not None:
            mask = idx != transparent
            region[mask] = palette[idx[mask]]
        else:
            region[:] = palette[idx]
        frames.append(canvas.tobytes())
        if disposal == 2:
            canvas[top : top + fh, left : left + fw] = bg_rgb
        elif disposal == 3:
            canvas = prev
    if not frames:
        raise GifUnsupported("no image frame in file")
    return cw, ch_, frames


def encode_gif_animation(
    width: int,
    height: int,
    frames: list,
    disposals: list | None = None,
    transparents: list | None = None,
    offsets: list | None = None,
) -> bytes:
    """Encode a multi-frame grayscale-identity GIF89a animation for
    fixtures: ``frames`` is a list of uint8 index arrays (each either
    full-canvas ``(height, width)`` or a sub-rect matching its entry
    in ``offsets`` = [(left, top)]); per-frame ``disposals`` (0-3) and
    ``transparents`` (index or None) go into graphic-control
    extensions."""
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | 0x07, 0, 0)
    out += np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1).tobytes()
    for fi, frame in enumerate(frames):
        arr = np.asarray(frame, dtype=np.uint8)
        left, top = (offsets[fi] if offsets else (0, 0))
        fh, fw = arr.shape
        disp = disposals[fi] if disposals else 0
        trans = transparents[fi] if transparents else None
        gflags = (disp & 0x07) << 2 | (0x01 if trans is not None else 0)
        out += bytes([0x21, 0xF9, 4, gflags, 0, 0, trans or 0, 0])
        out += bytes([0x2C]) + struct.pack("<HHHHB", left, top, fw, fh, 0)
        out += _image_data(arr)
    out += bytes([0x3B])
    return bytes(out)
