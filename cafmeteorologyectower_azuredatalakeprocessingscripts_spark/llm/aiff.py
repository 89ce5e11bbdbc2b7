"""AIFF/AIFF-C PCM codec (stdlib struct + numpy) — the big-endian
sibling of :mod:`.wav`, the audio container Apple-ecosystem corpora
carry. Same shape as WAV: an IFF chunk walk (COMM describes the
layout, SSND holds the samples) + one numpy ``frombuffer``.

Scope (everything else raises ``AiffUnsupported`` and callers fall
back to the digest stub):

- FORM/AIFF, or FORM/AIFC whose COMM compression id is ``NONE``
  (uncompressed big-endian) or ``sowt`` (byte-swapped little-endian —
  what Mac writers emit); every other AIFC codec is refused;
- sample sizes 8/16/24/32 (AIFF integers are SIGNED at every depth,
  including 8-bit — unlike WAV's unsigned 8-bit); 24-bit is the
  packed 3-byte layout, widened and sign-extended;
- any channel count >= 1; unknown chunks are walked over, including
  the IFF odd-size pad byte; the COMM sample rate is the 80-bit
  extended float the spec mandates, parsed exactly.

Decode output matches :func:`.wav.decode_wav`:
``(sample_rate, channels, bits, samples)`` with ``samples`` int32 of
shape ``(n_frames, channels)`` holding the RAW stored values — exact
integers, so sum / sum-of-squares features replay bit-for-bit.

Amplification: PCM carries no compression, so every chunk size is
validated against the bytes present before any numpy view — a header
cannot make a worker allocate more than the payload carries.

This runs INSIDE Arrow-batched ``mapInPandas`` workers; nothing here
touches the driver.
"""

from __future__ import annotations

import struct

import numpy as np

from ._codec import pcm_pack, pcm_unpack, walk_chunks, write_form


class AiffUnsupported(ValueError):
    """Payload is not an AIFF this codec handles (bad magic,
    compressed AIFC, unsupported depth, or corrupt chunk structure)."""


def is_aiff(payload: bytes) -> bool:
    return (
        payload is not None
        and bytes(payload[:4]) == b"FORM"
        and bytes(payload[8:12]) in (b"AIFF", b"AIFC")
    )


def _read_extended(b: bytes) -> int:
    """80-bit IEEE extended float -> int sample rate (the only place
    AIFF uses the format; rates are integral in practice and the
    parse is exact for them)."""
    if len(b) != 10:
        raise AiffUnsupported("bad extended float")
    se, mant = struct.unpack(">HQ", b)
    sign = -1 if se & 0x8000 else 1
    exp = se & 0x7FFF
    if exp == 0 and mant == 0:
        return 0
    if exp == 0x7FFF:
        raise AiffUnsupported("non-finite sample rate")
    # value = mant * 2^(exp - 16383 - 63); integral rates have
    # non-negative shift after accounting for mantissa trailing zeros
    shift = exp - 16383 - 63
    if shift >= 0:
        val = mant << shift
    else:
        if mant & ((1 << -shift) - 1):
            raise AiffUnsupported("non-integral sample rate")
        val = mant >> -shift
    return sign * val


def _write_extended(rate: int) -> bytes:
    """Integral rate -> 80-bit extended (normalized)."""
    if rate <= 0:
        raise AiffUnsupported(f"sample rate {rate}")
    exp = rate.bit_length() - 1
    mant = rate << (63 - exp)
    return struct.pack(">HQ", 16383 + exp, mant)


def decode_aiff(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Decode an AIFF/AIFC-NONE/AIFC-sowt payload ->
    ``(sample_rate, channels, bits, samples)``, samples int32 of
    shape ``(n_frames, channels)`` (raw stored values, sign-extended)."""
    data = bytes(payload)
    if not is_aiff(data):
        raise AiffUnsupported("bad signature")
    is_aifc = data[8:12] == b"AIFC"
    chunks = walk_chunks(data, ">", (b"COMM", b"SSND"), AiffUnsupported)
    body_off, size = chunks[b"COMM"]
    if size < 18:
        raise AiffUnsupported(f"COMM chunk too small ({size})")
    channels, n_frames, bits = struct.unpack_from(">HIH", data, body_off)
    rate = _read_extended(data[body_off + 8 : body_off + 18])
    bo = ">"
    if is_aifc:
        if size < 22:
            raise AiffUnsupported("AIFC COMM missing compression id")
        ctype = data[body_off + 18 : body_off + 22]
        if ctype == b"sowt":
            bo = "<"
        elif ctype != b"NONE":
            raise AiffUnsupported(f"AIFC compression {ctype!r} (only NONE/sowt)")
    body_off, size = chunks[b"SSND"]
    if size < 8:
        raise AiffUnsupported("SSND chunk too small")
    off_, _block = struct.unpack_from(">II", data, body_off)
    if 8 + off_ > size:
        raise AiffUnsupported("SSND offset overruns chunk")
    off, avail = body_off + 8 + off_, size - 8 - off_
    if channels < 1:
        raise AiffUnsupported("zero channels")
    if rate <= 0:
        raise AiffUnsupported(f"sample rate {rate}")
    if bits not in (8, 16, 24, 32):
        raise AiffUnsupported(f"bits per sample {bits} (only 8/16/24/32)")
    need = n_frames * channels * (bits // 8)
    if need > avail:
        raise AiffUnsupported(
            f"SSND carries {avail} bytes < {need} declared by COMM"
        )
    vals = pcm_unpack(data, off, n_frames * channels, bits, bo, False)
    return rate, channels, bits, vals.reshape(n_frames, channels)


def encode_aiff(
    sample_rate: int,
    channels: int,
    bits: int,
    samples: np.ndarray | list,
    sowt: bool = False,
) -> bytes:
    """Encode samples as a minimal AIFF (big-endian) or, with
    ``sowt=True``, an AIFC/sowt (little-endian payload). AIFF
    integers are SIGNED at every depth including 8-bit."""
    if channels < 1:
        raise AiffUnsupported("zero channels")
    if bits not in (8, 16, 24, 32):
        raise AiffUnsupported(f"bits per sample {bits} (only 8/16/24/32)")
    arr = np.asarray(samples).reshape(-1, channels)
    n_frames = arr.shape[0]
    body = pcm_pack(arr, bits, "<" if sowt else ">", False, AiffUnsupported)
    comm = struct.pack(">HIH", channels, n_frames, bits) + _write_extended(
        sample_rate
    )
    if sowt:
        comm += b"sowt" + bytes([4]) + b"not\x00"  # pascal-string name
    ssnd = struct.pack(">II", 0, 0) + body
    form_type = b"AIFC" if sowt else b"AIFF"
    return write_form(b"FORM", form_type, ((b"COMM", comm), (b"SSND", ssnd)), ">")


__all__ = [
    "AiffUnsupported",
    "is_aiff",
    "decode_aiff",
    "encode_aiff",
]
