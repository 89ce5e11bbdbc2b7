"""WAV/PCM codec (stdlib struct + numpy) for the multimodal stages —
the first REAL non-image modality (VERDICT r10 #5: "multimodal
columns" had meant images only).

WAV is headerful raw data like BMP/TIFF: a RIFF container whose
``fmt `` chunk describes the PCM layout and whose ``data`` chunk IS
the samples — the whole decode is a chunk walk + one numpy
``frombuffer``/reshape. No codec library needed, no sequential
dependency, memcpy speed.

Scope (everything else raises ``WavUnsupported`` and callers fall back
to the digest stub, exactly like ``PngUnsupported`` / ``BmpUnsupported``
/ ``TiffUnsupported``):

- RIFF/WAVE little-endian only (the on-disk standard; the rare
  big-endian RIFX variant is refused);
- ``fmt `` audio format 1 (integer PCM), 3 (IEEE float), 6 (G.711
  A-law) or 7 (G.711 mu-law — together the telephony formats real
  speech corpora carry; 8-bit codes expanded to 16-bit linear via
  the closed-form G.711 segment expansion, r13), or
  WAVE_FORMAT_EXTENSIBLE (0xFFFE) whose SubFormat GUID is PCM or
  IEEE-float — the container modern encoders emit for >2 channels or
  >16-bit depth; other EXTENSIBLE subformats are refused;
- integer PCM: bits per sample 8 (unsigned) or 16/24/32 (signed,
  little-endian; 24-bit is the packed 3-byte studio layout, widened
  to int32); IEEE float: 32 or 64 bits;
- any channel count ≥ 1; extra chunks (LIST/INFO/fact/cue) are walked
  over, including the RIFF odd-size pad byte. A malformed TRAILING
  chunk (size overrunning the payload) after both ``fmt `` and
  ``data`` have been located ends the walk instead of refusing the
  file — truncated/garbage tail chunks are a common real-world
  corruption and the audio itself is already intact (ADVICE r11).

Decode output: ``(sample_rate, channels, bits, samples)`` with
``samples`` a numpy array of shape ``(n_frames, channels)``: ``int32``
holding the RAW stored values for integer PCM (8-bit stays 0..255
unsigned, the signed depths sign-extended) — exact integers, so
downstream features (sum, sum-of-squares) replay bit-for-bit in any
engine — and native ``float32``/``float64`` for IEEE-float payloads
(bit-exact round-trip; callers distinguish the paths by
``samples.dtype.kind``).

Amplification note: PCM has no compression, so a header cannot make a
worker allocate more than the payload carries — every chunk size
(including ``data``) is validated against the bytes actually present
before any numpy view is taken, per the rule the image codecs follow.

This runs INSIDE Arrow-batched ``mapInPandas`` workers; nothing here
touches the driver.
"""

from __future__ import annotations

import struct

import numpy as np

from ._codec import pcm_pack, pcm_unpack, walk_chunks, write_form


class WavUnsupported(ValueError):
    """Payload is not a WAV this codec handles (bad magic, non-PCM
    format, unsupported bit depth, or corrupt chunk structure)."""


def is_wav(payload: bytes) -> bool:
    return (
        payload is not None
        and bytes(payload[:4]) == b"RIFF"
        and bytes(payload[8:12]) == b"WAVE"
    )


def is_g711(payload: bytes) -> bool:
    """Whether a RIFF/WAVE payload holds G.711 codes (``fmt `` audio
    format 6 or 7): 8 bits per sample on disk, which :func:`decode_wav`
    expands to 16-bit linear samples."""
    if not is_wav(payload):
        return False
    data = bytes(payload)
    try:
        off, size = walk_chunks(data, "<", (b"fmt ", b"data"), WavUnsupported)[b"fmt "]
    except WavUnsupported:
        return False
    return size >= 2 and struct.unpack_from("<H", data, off)[0] in (6, 7)


_FLOAT_DTYPES = {32: np.dtype("<f4"), 64: np.dtype("<f8")}
_BITS_OK = (8, 16, 24, 32)
_FLOAT_BITS_OK = (32, 64)

# KSDATAFORMAT_SUBTYPE_{PCM,IEEE_FLOAT} — the two EXTENSIBLE
# subformats this codec accepts (the GUID bytes as stored on disk;
# they differ only in the leading format word)
_PCM_GUID = bytes(
    [0x01, 0x00, 0x00, 0x00, 0x00, 0x00, 0x10, 0x00,
     0x80, 0x00, 0x00, 0xAA, 0x00, 0x38, 0x9B, 0x71]
)
_FLOAT_GUID = bytes([0x03]) + _PCM_GUID[1:]


def _g711_luts() -> tuple[np.ndarray, np.ndarray]:
    """(alaw, ulaw) 256-entry int32 expansion tables from the G.711
    closed forms — the same expressions the DuckDB oracle replays, so
    a table/formula drift breaks the hash gate, not just a test."""
    c = np.arange(256, dtype=np.int32)
    # A-law: toggle the even bits, then segment-expand
    a = c ^ 0x55
    seg = (a >> 4) & 7
    t = (a & 0x0F) << 4
    mag = np.where(
        seg == 0, t + 8, np.where(seg == 1, t + 0x108, (t + 0x108) << np.maximum(seg - 1, 0))
    )
    alaw = np.where(a & 0x80 > 0, mag, -mag).astype(np.int32)
    # mu-law: complement, then segment-expand around the 0x84 bias
    u = (~c) & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)
    ulaw = np.where(u & 0x80 > 0, 0x84 - t, t - 0x84).astype(np.int32)
    return alaw, ulaw


_ALAW_LIN, _ULAW_LIN = _g711_luts()


def decode_wav(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Decode an integer-PCM or IEEE-float RIFF/WAVE payload →
    ``(sample_rate, channels, bits, samples)`` with ``samples`` of
    shape ``(n_frames, channels)``: int32 raw stored values for
    integer PCM, native float32/float64 for IEEE float."""
    data = bytes(payload)
    if not is_wav(data):
        raise WavUnsupported("bad signature")
    if len(data) < 12:
        raise WavUnsupported("truncated header")

    chunks = walk_chunks(data, "<", (b"fmt ", b"data"), WavUnsupported)
    body_off, size = chunks[b"fmt "]
    if size < 16:
        raise WavUnsupported(f"fmt chunk too small ({size})")
    fmt = struct.unpack_from("<HHIIHH", data, body_off)
    if fmt[0] == 0xFFFE:
        # WAVE_FORMAT_EXTENSIBLE: accept iff the SubFormat GUID is PCM
        # or IEEE-float (base fields 16 + cbSize 2 + wValidBits 2 +
        # dwChannelMask 4 = GUID at +24)
        if size < 40:
            raise WavUnsupported(f"EXTENSIBLE fmt chunk too small ({size})")
        guid = data[body_off + 24:body_off + 40]
        if guid == _PCM_GUID:
            fmt = (1,) + fmt[1:]
        elif guid == _FLOAT_GUID:
            fmt = (3,) + fmt[1:]
        else:
            raise WavUnsupported(
                "EXTENSIBLE subformat is neither PCM nor IEEE float"
            )
    audio_format, channels, sample_rate, _byte_rate, block_align, bits = fmt
    if audio_format not in (1, 3, 6, 7):
        raise WavUnsupported(
            f"audio format {audio_format} (only integer PCM / IEEE float / G.711)"
        )
    if channels < 1:
        raise WavUnsupported("zero channels")
    if sample_rate <= 0:
        raise WavUnsupported(f"sample rate {sample_rate}")
    if audio_format == 3:
        if bits not in _FLOAT_BITS_OK:
            raise WavUnsupported(f"bits per sample {bits} (float: only 32/64)")
    elif audio_format in (6, 7):
        if bits != 8:
            raise WavUnsupported(f"bits per sample {bits} (G.711: only 8)")
    elif bits not in _BITS_OK:
        raise WavUnsupported(f"bits per sample {bits} (only 8/16/24/32)")
    if block_align != channels * bits // 8:
        raise WavUnsupported(
            f"block align {block_align} != channels*bits/8 ({channels * bits // 8})"
        )

    off, size = chunks[b"data"]
    if size % block_align != 0:
        raise WavUnsupported(f"data size {size} not a whole number of frames")
    n_frames = size // block_align
    if audio_format in (6, 7):
        # G.711 telephony: 8-bit codes -> 16-bit linear, one LUT gather
        codes = np.frombuffer(
            data, dtype=np.uint8, count=n_frames * channels, offset=off
        )
        lin = (_ALAW_LIN if audio_format == 6 else _ULAW_LIN)[codes]
        return sample_rate, channels, bits, lin.reshape(n_frames, channels)
    if audio_format == 3:
        raw = np.frombuffer(
            data, dtype=_FLOAT_DTYPES[bits], count=n_frames * channels, offset=off
        )
        return sample_rate, channels, bits, raw.reshape(n_frames, channels)
    vals = pcm_unpack(data, off, n_frames * channels, bits, "<", True)
    return sample_rate, channels, bits, vals.reshape(n_frames, channels)


def _riff(tag: int, channels: int, sample_rate: int, bits: int, body: bytes) -> bytes:
    """A canonical RIFF/WAVE: one 16-byte ``fmt `` + one ``data`` chunk."""
    block_align = channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", tag, channels, sample_rate, sample_rate * block_align, block_align, bits
    )
    return write_form(b"RIFF", b"WAVE", ((b"fmt ", fmt), (b"data", body)), "<")


def encode_wav_g711(
    sample_rate: int, channels: int, law: str, codes: np.ndarray | bytes
) -> bytes:
    """Encode RAW G.711 code bytes as a format-6 (``law='alaw'``) or
    format-7 (``law='ulaw'``) RIFF/WAVE — the fixture path: the query
    stores codepoints AS the codes, and the oracle replays the
    closed-form expansion from the text."""
    if channels < 1:
        raise WavUnsupported("zero channels")
    if law not in ("alaw", "ulaw"):
        raise WavUnsupported(f"law {law!r} (alaw or ulaw)")
    if isinstance(codes, (bytes, bytearray, memoryview)):
        codes = np.frombuffer(codes, dtype=np.uint8)
    body = np.asarray(codes, dtype=np.uint8).reshape(-1).tobytes()
    if len(body) % channels:
        raise WavUnsupported("codes not a whole number of frames")
    return _riff(6 if law == "alaw" else 7, channels, sample_rate, 8, body)


def encode_wav(
    sample_rate: int, channels: int, bits: int, samples: np.ndarray | list
) -> bytes:
    """Encode samples (any array broadcastable to
    ``(n_frames, channels)``) as a minimal canonical RIFF/WAVE: one
    ``fmt `` (16-byte) + one ``data`` chunk. Integer dtypes emit
    format-1 PCM (8-bit unsigned, 16/24/32-bit signed; 24-bit packs
    the 3-byte little-endian layout); float dtypes emit format-3 IEEE
    float (bits must be 32 or 64, values stored bit-exact — no range
    clamp, matching the on-disk standard)."""
    if channels < 1:
        raise WavUnsupported("zero channels")
    arr = np.asarray(samples).reshape(-1, channels)
    if arr.dtype.kind == "f":
        if bits not in _FLOAT_BITS_OK:
            raise WavUnsupported(f"bits per sample {bits} (float: only 32/64)")
        return _riff(3, channels, sample_rate, bits, arr.astype(_FLOAT_DTYPES[bits]).tobytes())
    if bits not in _BITS_OK:
        raise WavUnsupported(f"bits per sample {bits} (only 8/16/24/32)")
    body = pcm_pack(arr, bits, "<", True, WavUnsupported)
    return _riff(1, channels, sample_rate, bits, body)
