"""ICO (favicon) container codec — web crawls are full of .ico
payloads, and ICO is a thin directory over content the engine already
decodes for real: each entry is either a PNG stream or a headerless
BMP DIB (BITMAPINFOHEADER with the height DOUBLED to cover the
trailing 1-bit AND transparency mask).

Decode picks the LARGEST entry (the behavior consumers expect from a
multi-resolution icon), then routes: PNG-signature entries through
:mod:`.png`; DIB entries are wrapped in a synthesized 14-byte BM file
header with the height un-doubled and handed to :mod:`.bmp` — the
palette/bpp/stride/bounds machinery is reused wholesale, and the AND
mask simply trails past the pixel data (the BMP bounds checks only
require the pixels to be present). 32-bpp icons carry real alpha in
the BGRA channel; for 8/24-bpp entries the AND mask is IGNORED
(pixels decode opaque — the feature contract is pixel bytes, and
mask-holes have no defined color).

Scope: entry bpp 8/24/32 or PNG (1/4-bpp antique icons raise
``IcoUnsupported`` and fall to the digest stub like every other
codec's long tail). Amplification: entry sizes/offsets are validated
against the payload before any slice, and the embedded decoders keep
their own geometry bounds.

This runs INSIDE Arrow-batched ``mapInPandas`` workers; nothing here
touches the driver.
"""

from __future__ import annotations

import struct

from .bmp import BmpUnsupported, decode_bmp, encode_bmp
from .png import PngUnsupported, decode_png


class IcoUnsupported(ValueError):
    """Payload is not an ICO this codec handles (bad directory,
    unsupported entry bpp, or corrupt embedded image)."""


def is_ico(payload: bytes) -> bool:
    return (
        payload is not None
        and len(payload) >= 6
        and bytes(payload[:4]) == b"\x00\x00\x01\x00"
        and payload[4] | (payload[5] << 8) > 0
    )


def _decode_entry(body: bytes) -> tuple[int, int, int, bytes]:
    """Decode ONE directory entry body (PNG stream or headerless DIB)."""
    if body[:8] == b"\x89PNG\r\n\x1a\n":
        try:
            return decode_png(body)
        except PngUnsupported as ex:
            raise IcoUnsupported(f"embedded PNG: {ex}") from ex
    if len(body) < 40 or struct.unpack_from("<I", body, 0)[0] != 40:
        raise IcoUnsupported("entry is neither PNG nor BITMAPINFOHEADER")
    bh2 = struct.unpack_from("<i", body, 8)[0]
    if bh2 <= 0 or bh2 % 2:
        raise IcoUnsupported(f"doubled DIB height {bh2}")
    bpp = struct.unpack_from("<H", body, 14)[0]
    ncolors = struct.unpack_from("<I", body, 32)[0]
    if ncolors > 256:  # hostile palette count would overflow pix_off
        raise IcoUnsupported(f"palette count {ncolors}")
    pal_bytes = 4 * (ncolors or (1 << bpp if bpp <= 8 else 0))
    patched = bytearray(body)
    struct.pack_into("<i", patched, 8, bh2 // 2)  # un-double the height
    pix_off = 14 + 40 + pal_bytes
    bmp = (
        b"BM"
        + struct.pack("<IHHI", 14 + len(patched), 0, 0, pix_off)
        + bytes(patched)
    )
    try:
        return decode_bmp(bmp)
    except BmpUnsupported as ex:
        raise IcoUnsupported(f"embedded DIB: {ex}") from ex


def decode_ico(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode the largest DECODABLE entry of an ICO → ``(width, height,
    channels, pixels)``, the shared codec contract.

    Entries are tried largest-first by the directory's declared
    dimensions, falling back to the next entry when one fails (ADVICE
    r13: directory width/height bytes are often inaccurate and real
    consumers fall back across entries — a 1-bpp antique entry that
    happens to be declared largest must not mask a decodable PNG
    sibling). Only when EVERY entry fails does the icon raise, with
    the largest entry's reason."""
    data = bytes(payload)
    if not is_ico(data):
        raise IcoUnsupported("bad signature")
    (count,) = struct.unpack_from("<H", data, 4)
    if 6 + 16 * count > len(data):
        raise IcoUnsupported("directory overruns payload")
    entries = []
    for i in range(count):
        at = 6 + 16 * i
        w, h = data[at], data[at + 1]
        (size, off) = struct.unpack_from("<II", data, at + 8)
        w, h = w or 256, h or 256  # 0 encodes 256
        if size < 8 or off + size > len(data):
            raise IcoUnsupported(f"entry {i} out of bounds")
        entries.append((w * h, i, off, size))
    entries.sort(key=lambda e: (-e[0], e[1]))
    first_err: IcoUnsupported | None = None
    for _area, _i, off, size in entries:
        try:
            return _decode_entry(data[off : off + size])
        except IcoUnsupported as ex:
            if first_err is None:
                first_err = ex
    raise first_err


def _single_entry(width: int, height: int, bpp: int, body: bytes) -> bytes:
    if not (1 <= width <= 256 and 1 <= height <= 256):
        raise IcoUnsupported(f"ICO dimensions cap at 256, got {width}x{height}")
    entry = struct.pack(
        "<BBBBHHII", width % 256, height % 256, 0, 0, 1, bpp, len(body), 22
    )
    return b"\x00\x00\x01\x00\x01\x00" + entry + bytes(body)


def encode_ico(
    width: int, height: int, channels: int, pixels: bytes
) -> bytes:
    """Encode pixels as a single-entry ICO wrapping the BMP DIB
    layout (height doubled, zeroed AND mask appended) — the fixture
    path; ICO dimensions cap at 256."""
    body = bytearray(encode_bmp(width, height, channels, pixels)[14:])
    struct.pack_into("<i", body, 8, height * 2)
    mask_stride = ((width + 31) // 32) * 4
    body += b"\x00" * (mask_stride * height)
    return _single_entry(width, height, {1: 8, 3: 24, 4: 32}[channels], body)


def encode_ico_png(png_payload: bytes, width: int, height: int) -> bytes:
    """Wrap an existing PNG stream as a single-entry ICO (the layout
    modern favicons use for large sizes)."""
    return _single_entry(width, height, 32, png_payload)


__all__ = [
    "IcoUnsupported",
    "is_ico",
    "decode_ico",
    "encode_ico",
    "encode_ico_png",
]
