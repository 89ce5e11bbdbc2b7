"""BMP codec (stdlib struct + numpy) for the multimodal stages — the
second REAL image format after PNG (VERDICT r9 #8).

BMP is the natural choice for a container with no codec libraries:
BI_RGB (compression 0) pixel data is raw bytes — the whole decode is
header parsing + one numpy reshape/slice (row de-padding, bottom-up
flip, BGR→RGB lane swap). No inflate, no filters, no sequential
dependency anywhere, so unlike PNG there is no slow path: every BMP
decodes at memcpy speed.

Scope (everything else raises ``BmpUnsupported`` and callers fall back
to the digest stub, exactly like ``PngUnsupported``):

- BITMAPINFOHEADER (40-byte) or the larger V4/V5 headers (108/124
  bytes — parsed for the same leading fields, extra fields ignored);
  the ancient BITMAPCOREHEADER is refused.
- bpp 8 (palette; a grayscale identity palette decodes to 1-channel
  gray, any other palette expands to RGB), 24 (BGR → RGB), and 32
  (BGRX → RGBA; with plain BI_RGB the 4th byte is padding by spec, but
  real-world encoders store alpha there — it is preserved).
- compression 0 (BI_RGB), and 1 (BI_RLE8, r11 — decoded with a
  per-RUN loop, strictly bounds-checked; RLE4/bitfields refused).
- positive height = bottom-up storage (the common case), negative =
  top-down; both handled.

Decode output matches :mod:`.png`: ``(width, height, channels,
pixel_bytes)`` with pixels row-major top-down and channels
interleaved — so ``extract_features`` treats both formats identically.

Amplification note: the decoded size is checked against the output
cap every image codec shares (``_codec.MAX_OUTPUT_BYTES``) before
anything is allocated — an RLE8 payload of a few hundred bytes can
declare any geometry. BI_RGB has no compression, and the row-stride
check below also refuses any header that claims more pixels than the
payload carries.

This runs INSIDE Arrow-batched ``mapInPandas`` workers; nothing here
touches the driver.
"""

from __future__ import annotations

import struct

import numpy as np

from ._codec import check_cap, is_gray_identity


class BmpUnsupported(ValueError):
    """Payload is not a BMP this codec handles (bad magic, core header,
    RLE/bitfield compression, unsupported bpp, or corrupt structure)."""


def is_bmp(payload: bytes) -> bool:
    return payload is not None and bytes(payload[:2]) == b"BM"


_DIB_SIZES = (40, 52, 56, 108, 124)  # INFO, V2, V3, V4, V5


def decode_bmp(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode a BI_RGB BMP → ``(width, height, channels, pixels)`` with
    pixels row-major TOP-DOWN, channels interleaved (gray / RGB /
    RGBA) — the same contract as :func:`..png.decode_png`."""
    data = bytes(payload)
    if not is_bmp(data):
        raise BmpUnsupported("bad signature")
    if len(data) < 54:
        raise BmpUnsupported("truncated header")
    pix_off = struct.unpack_from("<I", data, 10)[0]
    dib = struct.unpack_from("<I", data, 14)[0]
    if dib not in _DIB_SIZES:
        raise BmpUnsupported(f"unsupported DIB header size {dib}")
    width, height = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    colors_used = struct.unpack_from("<I", data, 46)[0]
    if planes != 1:
        raise BmpUnsupported(f"planes={planes}")
    if compression not in (0, 1):
        raise BmpUnsupported(f"compression={compression} (only BI_RGB/BI_RLE8)")
    if bpp not in (8, 24, 32):
        raise BmpUnsupported(f"bpp={bpp}")
    if compression == 1 and bpp != 8:
        raise BmpUnsupported(f"RLE8 with bpp={bpp}")
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height == 0:
        raise BmpUnsupported(f"bad dimensions {width}x{height}")
    if pix_off < 14 + dib:
        raise BmpUnsupported("pixel data out of bounds")
    # an 8-bit palette expands to RGB unless it is the gray identity
    n_out = 4 if bpp == 32 else 3
    check_cap(width * height * n_out, f"{width}x{height}x{n_out}", BmpUnsupported)

    if compression == 1:
        if top_down:
            raise BmpUnsupported("top-down RLE8")  # invalid per spec
        idx = _decode_rle8(data, pix_off, width, height)[::-1]
        return _expand_bmp_palette(data, dib, pix_off, colors_used, idx, width, height)

    # BI_RGB rows are padded to 4-byte boundaries
    stride = (width * bpp // 8 + 3) & ~3
    need = pix_off + stride * height
    if need > len(data):
        raise BmpUnsupported("pixel data out of bounds")

    rows = np.frombuffer(data, dtype=np.uint8, count=stride * height, offset=pix_off)
    rows = rows.reshape(height, stride)
    if not top_down:
        rows = rows[::-1]

    if bpp == 8:
        return _expand_bmp_palette(
            data, dib, pix_off, colors_used, rows[:, :width], width, height
        )
    n_ch = bpp // 8
    if n_ch == 3:
        # single-pass gather: the row flip AND the BGR→RGB swap are both
        # pure stride sign-flips, so one negative-strided view + one
        # contiguous copy replaces the reshape-copy + lane-swap-copy
        # pair — measured 2.0x on 256² (interleaved A/B, r11). Bounds:
        # addr(i,j,c) spans exactly [0, stride*height) of the buffer the
        # `need` check above already validated. The 4-channel path stays
        # on fancy indexing (BGRA→RGBA = [2,1,0,3], not a reversal).
        base = np.frombuffer(
            data, dtype=np.uint8, count=stride * height, offset=pix_off
        )
        if top_down:
            v = np.lib.stride_tricks.as_strided(
                base[2:], shape=(height, width, 3), strides=(stride, 3, -1)
            )
        else:
            v = np.lib.stride_tricks.as_strided(
                base[(height - 1) * stride + 2:],
                shape=(height, width, 3),
                strides=(-stride, 3, -1),
            )
        return width, height, 3, np.ascontiguousarray(v).tobytes()
    px = rows[:, : width * n_ch].reshape(height, width, n_ch)
    # BGRA → RGBA
    return width, height, 4, px[:, :, [2, 1, 0, 3]].tobytes()


def _expand_bmp_palette(data, dib, pix_off, colors_used, idx, width, height):
    """Shared palette expansion for the BI_RGB-8bpp and RLE8 paths:
    grayscale identity palette → 1-channel gray, else RGB."""
    n_pal = colors_used or 256
    pal_off = 14 + dib
    if pal_off + 4 * n_pal > pix_off:
        raise BmpUnsupported("palette out of bounds")
    pal = np.frombuffer(
        data, dtype=np.uint8, count=4 * n_pal, offset=pal_off
    ).reshape(n_pal, 4)  # BGRX entries
    if int(idx.max(initial=0)) >= n_pal:
        raise BmpUnsupported("palette index out of range")
    if n_pal == 256 and is_gray_identity(pal):
        return width, height, 1, np.ascontiguousarray(idx).tobytes()
    bgr = pal[idx.reshape(-1)][:, :3]  # (H*W, BGR)
    return width, height, 3, bgr[:, ::-1].tobytes()


def _decode_rle8(data: bytes, start: int, width: int, height: int):
    """BI_RLE8 → (height, width) palette indices in STORAGE order
    (bottom-up; caller flips). A per-RUN loop — iteration count is
    bounded by payload_bytes/2 and `pos` strictly advances, so hostile
    streams terminate; every write is bounds-checked BEFORE it happens
    (a crafted run cannot touch memory past the declared geometry).
    Pixels skipped by delta/early-EOF escapes decode as index 0
    (deterministic; the spec leaves them undefined)."""
    out = np.zeros((height, width), dtype=np.uint8)
    x = y = 0
    pos = start
    n = len(data)
    while pos + 2 <= n:
        count, value = data[pos], data[pos + 1]
        pos += 2
        if count:  # encoded run
            if y >= height or x + count > width:
                raise BmpUnsupported("RLE8 run out of bounds")
            out[y, x:x + count] = value
            x += count
            continue
        if value == 0:  # end of line
            x, y = 0, y + 1
            if y > height:
                raise BmpUnsupported("RLE8 EOL past bottom")
        elif value == 1:  # end of bitmap
            return out
        elif value == 2:  # delta skip
            if pos + 2 > n:
                raise BmpUnsupported("RLE8 truncated delta")
            x += data[pos]
            y += data[pos + 1]
            pos += 2
            # landing exactly on the right/bottom edge is legal as long
            # as no write follows there — writes re-check bounds
            if x > width or y > height:
                raise BmpUnsupported("RLE8 delta out of bounds")
        else:  # absolute (literal) run of `value` pixels, word-padded
            if y >= height or x + value > width or pos + value > n:
                raise BmpUnsupported("RLE8 literal out of bounds")
            out[y, x:x + value] = np.frombuffer(
                data, dtype=np.uint8, count=value, offset=pos
            )
            x += value
            pos += value + (value & 1)
    raise BmpUnsupported("RLE8 stream missing end-of-bitmap")


def encode_bmp(width: int, height: int, channels: int, pixels: bytes) -> bytes:
    """Encode row-major top-down pixels (gray / RGB / RGBA, the decode
    contract) as a bottom-up BI_RGB BMP: 8-bit + grayscale identity
    palette for 1 channel, 24-bit for 3, 32-bit for 4."""
    if channels not in (1, 3, 4):
        raise BmpUnsupported(f"channels={channels}")
    if len(pixels) != width * height * channels:
        raise BmpUnsupported(
            f"pixel buffer {len(pixels)} != {width}x{height}x{channels}"
        )
    bpp = {1: 8, 3: 24, 4: 32}[channels]
    stride = (width * bpp // 8 + 3) & ~3
    px = np.frombuffer(bytes(pixels), dtype=np.uint8).reshape(
        height, width, channels
    )
    if channels == 3:
        px = px[:, :, ::-1]  # RGB → BGR
    elif channels == 4:
        px = px[:, :, [2, 1, 0, 3]]  # RGBA → BGRA
    rows = np.zeros((height, stride), dtype=np.uint8)
    rows[:, : width * channels] = px.reshape(height, width * channels)
    body = rows[::-1].tobytes()  # bottom-up
    palette = b""
    if channels == 1:
        g = np.arange(256, dtype=np.uint8)
        palette = np.stack(
            [g, g, g, np.zeros(256, dtype=np.uint8)], axis=1
        ).tobytes()
    pix_off = 14 + 40 + len(palette)
    header = b"BM" + struct.pack(
        "<IHHI", pix_off + len(body), 0, 0, pix_off
    )
    dib = struct.pack(
        "<IiiHHIIiiII",
        40, width, height, 1, bpp, 0, len(body), 2835, 2835,
        256 if channels == 1 else 0, 0,
    )
    return header + dib + palette + body
