"""Internals shared by the codec modules: the one output cap every image
decoder checks, the gray-identity palette rule of GIF and BMP, the LZW
coder GIF and TIFF both use, and the chunk walk and PCM layout WAV and
AIFF both use. Nothing here is public; each
helper takes the calling codec's ``*Unsupported`` class as ``err`` so a
failure routes through that codec's fallback exactly as before.

LZW formats differ in two ways only, passed as parameters:

- ``msb``: GIF packs codes LSB-first, TIFF MSB-first. The bit reader
  is picked once per call, not tested once per code, and the encoder
  packs all its codes in one vectorized step.
- ``early``: the code width grows one code earlier in TIFF ("early
  change", 1) than in GIF (0). The decoder bumps when its table length
  reaches ``2**width - early``; the encoder when its post-increment
  next code reaches ``2**width + 1 - early``. ``early=1`` is libtiff's
  rule, so TIFFs written by either side read in the other.

This runs INSIDE Arrow-batched ``mapInPandas`` workers; nothing here
touches the driver.
"""

from __future__ import annotations

import struct

import numpy as np

# Decoded output is bounded by this CONSTANT (64 MB of samples), checked
# against the header's geometry before anything is allocated — never by
# header-declared dimensions alone.
MAX_OUTPUT_BYTES = 1 << 26


def check_cap(n_bytes: int, what: str, err: type[ValueError]) -> None:
    if n_bytes > MAX_OUTPUT_BYTES:
        raise err(f"{what} exceeds the {MAX_OUTPUT_BYTES}-byte output cap")


def is_gray_identity(palette: np.ndarray) -> bool:
    """Entry i is gray level i (R = G = B = i): such palettes decode to
    1-channel gray, so pixel oracles replay from content."""
    return bool((palette[:, :3] == np.arange(len(palette))[:, None]).all())


# ------------------------------------------------------------------ LZW

# Root tables per minimum code size, hoisted to module scope: rebuilding
# the 2**min_code roots on every call and clear was ~40% of the whole
# encode+decode profile at 8x8 frame size. Decoders copy with
# list(base), encoders with dict(base); the shared roots never mutate.
_LZW_DEC_BASE = {
    mc: [bytes([i]) for i in range(1 << mc)] + [b"", b""]
    for mc in range(2, 9)
}
_LZW_ENC_BASE = {
    mc: {bytes([i]): i for i in range(1 << mc)} for mc in range(2, 9)
}
_BYTE = [bytes([i]) for i in range(256)]


def _lsb_reader(stream: bytes):
    acc = nb = 0
    it = iter(stream)

    def read(width: int) -> int:
        nonlocal acc, nb
        while nb < width:
            acc |= next(it) << nb
            nb += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nb -= width
        return code

    return read


def _msb_reader(stream: bytes):
    acc = nb = 0
    it = iter(stream)

    def read(width: int) -> int:
        nonlocal acc, nb
        while nb < width:
            acc = ((acc << 8) | next(it)) & 0xFFFFFF  # keep acc bounded
            nb += 8
        nb -= width
        return (acc >> nb) & ((1 << width) - 1)

    return read


def lzw_decode(
    stream: bytes, min_code: int, n_out: int, msb: bool, early: int, err
) -> bytes:
    """Variable-width LZW over one contiguous code stream → at most
    ``n_out`` bytes (fewer when EOI or the stream ends first — callers
    check). Decoding stops the moment ``n_out`` bytes are out, so
    stream contents can never drive allocation past it."""
    clear = 1 << min_code
    eoi = clear + 1
    base = _LZW_DEC_BASE[min_code]
    table = list(base)
    width = min_code + 1
    read = (_msb_reader if msb else _lsb_reader)(stream)
    out = bytearray()
    prev: bytes | None = None
    while len(out) < n_out:
        try:
            code = read(width)
        except StopIteration:
            raise err("LZW stream truncated") from None
        if code == clear:
            table = list(base)
            width = min_code + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise err("LZW code before any root")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise err("LZW code beyond dictionary")
        out += entry
        prev = entry
        if len(table) == (1 << width) - early and width < 12:
            width += 1
    return bytes(out[:n_out])


def lzw_encode(raw: bytes, min_code: int, msb: bool, early: int) -> bytes:
    """Variable-width LZW with dictionary growth, width bumps and a
    clear when the table fills: GIF fills codes up to 4095 and clears
    on the next miss; libtiff clears once it would assign 4093."""
    clear = 1 << min_code
    eoi = clear + 1
    full = 4093 if early else 4096
    width = min_code + 1
    codes = [clear, width]  # flat (code, width) pairs, packed at the end
    table: dict[bytes, int] = dict(_LZW_ENC_BASE[min_code])
    next_code = eoi + 1
    prev = b""
    for v in raw:
        cur = prev + _BYTE[v]
        if cur in table:
            prev = cur
            continue
        codes += (table[prev], width)
        if next_code == full:
            codes += (clear, width)
            table = dict(_LZW_ENC_BASE[min_code])
            next_code = eoi + 1
            width = min_code + 1
        else:
            table[cur] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 - early and width < 12:
                width += 1
        prev = _BYTE[v]
    if prev:
        codes += (table[prev], width)
    codes += (eoi, width)
    # one vectorized pack: column j of `bits` is the j-th bit each code
    # emits (low bit first for GIF; for TIFF the code left-aligned in
    # 12 bits, high bit first); packbits zero-pads the last byte
    c, w = np.array(codes, dtype=np.int32).reshape(-1, 2).T
    k = np.arange(12)
    if msb:
        c = c << (12 - w)
    bits = (c[:, None] >> (11 - k if msb else k)) & 1
    return np.packbits(
        bits[k < w[:, None]].astype(np.uint8), bitorder="big" if msb else "little"
    ).tobytes()


# ------------------------------------------------------ RIFF/IFF and PCM


def walk_chunks(
    data: bytes, bo: str, required: tuple[bytes, ...], err
) -> dict[bytes, tuple[int, int]]:
    """RIFF (``bo='<'``) or IFF (``'>'``) chunk walk after the 12-byte
    form header → ``{chunk id: (body offset, size)}``, the last chunk
    of each id winning. Bodies are padded to even sizes. Every size is
    checked against the bytes present, except that a malformed
    TRAILING chunk (truncated tail, garbage padding) after every
    ``required`` chunk was found ends the walk instead of refusing the
    file: a common real-world corruption that leaves the audio intact."""
    found: dict[bytes, tuple[int, int]] = {}
    pos = 12
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        (size,) = struct.unpack_from(bo + "I", data, pos + 4)
        body = pos + 8
        if body + size > len(data):
            if all(r in found for r in required):
                break
            raise err(f"chunk {cid!r} claims {size} bytes past payload end")
        found[cid] = (body, size)
        pos = body + size + (size & 1)  # odd sizes carry a pad byte
    for r in required:
        if r not in found:
            raise err(f"missing {r.decode().strip()} chunk")
    return found


def write_form(magic: bytes, kind: bytes, chunks, bo: str) -> bytes:
    """Inverse of :func:`walk_chunks`: a RIFF/IFF container holding
    ``(id, body)`` chunks in order, odd bodies padded."""
    body = b"".join(
        cid + struct.pack(bo + "I", len(b)) + b + b"\x00" * (len(b) & 1)
        for cid, b in chunks
    )
    return magic + struct.pack(bo + "I", 4 + len(body)) + kind + body


def _pcm_dtype(bits: int, bo: str, u8: bool) -> np.dtype:
    return np.dtype(bo + {8: "u1" if u8 else "i1", 16: "i2", 24: "i4", 32: "i4"}[bits])


# where the three low-order bytes of an int32 sit in each byte order
_LOW3 = {"<": slice(0, 3), ">": slice(1, 4)}


def pcm_unpack(
    data: bytes, off: int, n_vals: int, bits: int, bo: str, u8: bool
) -> np.ndarray:
    """``n_vals`` integer PCM samples at ``off`` → int32 raw stored
    values (8-bit unsigned when ``u8``, as WAV stores it; every other
    depth signed). 24-bit is the packed 3-byte layout, widened to int32
    and sign-extended from bit 23 — vectorized, no per-sample Python."""
    if bits != 24:
        dt = _pcm_dtype(bits, bo, u8)
        return np.frombuffer(data, dtype=dt, count=n_vals, offset=off).astype(np.int32)
    wide = np.zeros((n_vals, 4), dtype=np.uint8)
    wide[:, _LOW3[bo]] = np.frombuffer(
        data, dtype=np.uint8, count=n_vals * 3, offset=off
    ).reshape(-1, 3)
    return (wide.view(bo + "i4").reshape(-1).astype(np.int32) << 8) >> 8


def pcm_pack(arr: np.ndarray, bits: int, bo: str, u8: bool, err) -> bytes:
    """Inverse of :func:`pcm_unpack`, refusing samples outside the
    depth's range."""
    if u8 and bits == 8:
        lo, hi = 0, 255
    else:
        lo, hi = -(2 ** (bits - 1)), 2 ** (bits - 1) - 1
    if arr.size and (int(arr.min()) < lo or int(arr.max()) > hi):
        raise err(f"sample out of range for {bits}-bit PCM")
    out = arr.astype(_pcm_dtype(bits, bo, u8))
    if bits == 24:
        out = out.view(np.uint8).reshape(-1, 4)[:, _LOW3[bo]]
    return out.tobytes()
