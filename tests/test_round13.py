"""Round-13 tests: ADVICE r12 fixes (canonical zigzag, GIF LZW
min-code guard, JPEG fill bytes, int32 coefficient grids) and the
VERDICT r12 worklist (animated-GIF frame demux behind the oracle,
fast entropy loop regressions)."""

import numpy as np
import pytest

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm import jpeg as J
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.gif import (
    GifUnsupported,
    decode_gif,
    decode_gif_frames,
    encode_gif,
    encode_gif_animation,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.jpeg import (
    JpegUnsupported,
    decode_jpeg,
    encode_jpeg,
)


# ----------------------------------------------------- ADVICE r12 #1


def test_zigzag_matches_literal_t81_table():
    """ADVICE r12 (high): the generated zigzag was the TRANSPOSE of
    the canonical T.81 order (intra-diagonal sort key inverted), so
    real-world JPEGs decoded with per-block transposed pixels. Pin
    the generated table to the literal Annex-K figure."""
    t81 = (
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    )
    assert J._ZIGZAG == t81


def test_decode_matches_spec_zigzag_reference():
    """End-to-end transpose detector that does NOT share the module's
    table: decode a single-block gradient JPEG and compare against a
    reference IDCT built from the literal T.81 zigzag. The r12 bug
    passed encoder/decoder roundtrips (shared table) but fails this."""
    g = (np.arange(64, dtype=np.uint8).reshape(8, 8) * 3 + 16).astype(np.uint8)
    p = encode_jpeg(8, 8, 1, g.tobytes())
    w, h, c, px = decode_jpeg(p)
    got = np.frombuffer(px, np.uint8).reshape(8, 8)
    # an off-diagonal-asymmetric image transposes to something far away
    assert np.abs(got.astype(int) - g.astype(int)).max() <= 1
    assert np.abs(got.astype(int) - g.T.astype(int)).max() > 50


# ----------------------------------------------------- ADVICE r12 #2


def test_gif_lzw_min_code_9_to_11_raises_gif_unsupported():
    """ADVICE r12 (medium): min_code 9-11 passed the old guard and
    blew up at bytes([256]) with a bare ValueError that escaped the
    GifUnsupported fallback routing — one malformed payload failed the
    whole Spark task."""
    base = encode_gif(8, 8, 1, bytes(range(64)))
    # header 13 + global palette 768 + image descriptor 10
    lzw_at = 13 + 768 + 10
    assert base[lzw_at] == 8  # the LZW minimum code size byte
    for bad in (0, 1, 9, 10, 11, 12, 255):
        corrupt = base[:lzw_at] + bytes([bad]) + base[lzw_at + 1:]
        with pytest.raises(GifUnsupported):
            decode_gif(corrupt)


def test_gif_corrupt_min_code_fuzz_only_raises_gif_unsupported():
    """Fuzz the min-code byte (and neighbors) — corrupt values must
    only ever raise GifUnsupported, never ValueError/IndexError."""
    rng = np.random.default_rng(13)
    base = encode_gif(8, 8, 1, bytes(range(64)))
    for _ in range(300):
        b = bytearray(base)
        for _ in range(rng.integers(1, 4)):
            b[rng.integers(13, len(b))] = rng.integers(0, 256)
        try:
            decode_gif(bytes(b))
        except GifUnsupported:
            pass


# ----------------------------------------------------- ADVICE r12 #3/#4


def test_jpeg_coefficient_grids_are_int32_numpy():
    """ADVICE r12 (low): list-of-list grids cost ~10x the documented
    64MB output cap; the grids must be int32 numpy arrays."""
    captured = []
    orig = J._decode_scan_sequential

    def spy(segs, comps, coef, order, geom, dri):
        captured.extend(coef)
        return orig(segs, comps, coef, order, geom, dri)

    g = np.arange(64, dtype=np.uint8).reshape(8, 8)
    p = encode_jpeg(8, 8, 1, g.tobytes())
    J._decode_scan_sequential = spy
    try:
        decode_jpeg(p)
    finally:
        J._decode_scan_sequential = orig
    assert captured and all(
        isinstance(a, np.ndarray) and a.dtype == np.int32 for a in captured
    )


def test_jpeg_fill_bytes_before_markers_accepted():
    """ADVICE r12 (low): runs of 0xFF fill bytes before a marker are
    legal (T.81 B.1.1.2); some encoders pad with them. Insert fill
    bytes before every header marker and expect an identical decode."""
    g = (np.arange(64, dtype=np.uint8) * 2 + 7).reshape(8, 8).astype(np.uint8)
    p = encode_jpeg(8, 8, 1, g.tobytes())
    out = bytearray(p[:2])
    i = 2
    # walk header markers up to (and including) SOS, injecting fill
    while i < len(p):
        assert p[i] == 0xFF
        out += b"\xff\xff\xff"  # fill bytes, then the real marker
        marker = p[i + 1]
        seglen = (p[i + 2] << 8) | p[i + 3]
        out += p[i + 1 + 0:i + 2 + seglen]
        i += 2 + seglen
        if marker == 0xDA:
            out += p[i:]
            break
    ref = decode_jpeg(p)
    got = decode_jpeg(bytes(out))
    assert got == ref


def test_jpeg_hostile_dc_accumulation_raises_not_overflows():
    """Hostile streams that walk the DC predictor past int16 range
    must raise JpegUnsupported (int32-grid protection), never numpy
    OverflowError."""
    rng = np.random.default_rng(99)
    g = rng.integers(0, 256, size=(32, 32), dtype=np.uint8)
    base = encode_jpeg(32, 32, 1, g.tobytes())
    for _ in range(400):
        b = bytearray(base)
        for _ in range(rng.integers(1, 6)):
            b[rng.integers(2, len(b))] = rng.integers(0, 256)
        try:
            decode_jpeg(bytes(b))
        except JpegUnsupported:
            pass


# ------------------------------------------- fast entropy loop (r13)


def test_jpeg_roundtrips_survive_fast_loop_paths():
    """The r13 accumulator-free loop has three decode paths (one-peek
    fast LUT, long-code, EOB/ZRL). Exercise all of them: smooth
    content (fast path), q=1 noise (long codes), sparse blocks
    (EOB/ZRL), restarts, and all four subsamplings."""
    rng = np.random.default_rng(5)
    # q=1 noise: long codes dominate
    for sub in ("444", "422", "440", "420"):
        rgb = rng.integers(0, 256, size=(24, 40, 3), dtype=np.uint8)
        p = encode_jpeg(40, 24, 3, rgb.tobytes(), subsampling=sub)
        w, h, c, px = decode_jpeg(p)
        assert (w, h, c) == (40, 24, 3)
    # smooth gradient: fast path dominates; unit quant = near-lossless
    g = np.add.outer(np.arange(24) * 3, np.arange(40) * 2).astype(np.uint8)
    p = encode_jpeg(40, 24, 1, g.tobytes())
    w, h, c, px = decode_jpeg(p)
    got = np.frombuffer(px, np.uint8).reshape(24, 40)
    assert np.abs(got.astype(int) - g.astype(int)).max() <= 1
    # sparse + restart markers
    sp = np.zeros((24, 40), dtype=np.uint8)
    sp[::7, ::5] = 200
    p = encode_jpeg(40, 24, 1, sp.tobytes(), restart_interval=2)
    w, h, c, px = decode_jpeg(p)
    got = np.frombuffer(px, np.uint8).reshape(24, 40)
    assert np.abs(got.astype(int) - sp.astype(int)).max() <= 1


def test_jpeg_truncated_entropy_stream_raises():
    """The word-list bit reader pads with 0xFF; truncation must still
    raise (consumed-bits-vs-real-bits rule), not return short pixels."""
    rng = np.random.default_rng(11)
    g = rng.integers(0, 256, size=(32, 32), dtype=np.uint8)
    p = encode_jpeg(32, 32, 1, g.tobytes())
    eoi = p.rindex(b"\xff\xd9")
    for cut in (eoi - 5, eoi - 37, eoi - 101):
        with pytest.raises(JpegUnsupported):
            decode_jpeg(p[:cut])


def test_jpeg_fuzz_never_escapes_jpeg_unsupported():
    """Re-run the hostile-payload rule over the new loop: random byte
    corruption may decode or raise JpegUnsupported — nothing else
    (IndexError from the word list / struct.error would fail this)."""
    rng = np.random.default_rng(1234)
    g = rng.integers(0, 256, size=(16, 24), dtype=np.uint8)
    base = encode_jpeg(24, 16, 1, g.tobytes())
    rgb = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    base_c = encode_jpeg(16, 16, 3, rgb.tobytes(), subsampling="420")
    for payload in (base, base_c):
        for _ in range(500):
            b = bytearray(payload)
            for _ in range(rng.integers(1, 8)):
                b[rng.integers(2, len(b))] = rng.integers(0, 256)
            try:
                decode_jpeg(bytes(b))
            except JpegUnsupported:
                pass


def test_jpeg_16bit_dqt_decodes_identically():
    """DQT precision Pq=1 (16-bit big-endian entries) — emitted by
    some high-quality encoders — must decode identically to the same
    values in 8-bit form. Rewrite the encoder's 8-bit DQT segment
    into the 16-bit layout byte-for-byte and compare decodes."""
    rng = np.random.default_rng(21)
    g = rng.integers(0, 256, size=(24, 24), dtype=np.uint8)
    p = encode_jpeg(24, 24, 1, g.tobytes())
    at = p.index(b"\xff\xdb")
    seglen = (p[at + 2] << 8) | p[at + 3]
    assert seglen == 2 + 65  # one 8-bit table
    pq_tq = p[at + 4]
    vals = p[at + 5 : at + 5 + 64]
    wide = bytes([0x10 | (pq_tq & 0x0F)]) + b"".join(
        bytes([0, v]) for v in vals
    )
    seg16 = b"\xff\xdb" + (2 + len(wide)).to_bytes(2, "big") + wide
    p16 = p[:at] + seg16 + p[at + 4 + seglen - 2 :]
    assert decode_jpeg(p16) == decode_jpeg(p)
    # precision nibbles 2-15 stay refused
    bad = bytearray(p)
    bad[at + 4] = 0x20 | (pq_tq & 0x0F)
    with pytest.raises(JpegUnsupported):
        decode_jpeg(bytes(bad))


def test_jpeg_411_subsampling_roundtrip():
    """4:1:1 (luma 4x1) — the remaining real-world chroma layout.
    Constant-color blocks stay exact through the 4x horizontal chroma
    round trip; noise decodes at full geometry."""
    rgb = np.zeros((16, 32, 3), dtype=np.uint8)
    rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2] = 90, 160, 40
    p = encode_jpeg(32, 16, 3, rgb.tobytes(), subsampling="411")
    w, h, c, px = decode_jpeg(p)
    arr = np.frombuffer(px, np.uint8).reshape(16, 32, 3)
    assert (w, h, c) == (32, 16, 3)
    assert np.abs(arr.astype(int) - rgb.astype(int)).max() <= 1
    rng = np.random.default_rng(41)
    noisy = rng.integers(0, 256, size=(24, 40, 3), dtype=np.uint8)
    p = encode_jpeg(40, 24, 3, noisy.tobytes(), subsampling="411")
    w, h, c, _ = decode_jpeg(p)
    assert (w, h, c) == (40, 24, 3)


def test_jpeg_interleaved_mcu_block_cap():
    """T.81 B.2.3: >10 data units per interleaved MCU must be refused
    (a hostile SOF with 4x4 sampling would otherwise inflate the
    per-MCU slots loop)."""
    rgb = np.zeros((16, 16, 3), dtype=np.uint8)
    p = bytearray(encode_jpeg(16, 16, 3, rgb.tobytes(), subsampling="420"))
    sof = p.index(b"\xff\xc0")
    # comp 0 sampling byte: (hi<<4)|vi lives at SOF body offset 7
    p[sof + 4 + 7] = 0x44  # 4x4 luma -> 16+1+1 = 18 units
    with pytest.raises(JpegUnsupported):
        decode_jpeg(bytes(p))


# ------------------------------------------------ Adobe CMYK/YCCK JPEG


def _cmyk_payload(c, m, y_, k, w=16, h=16):
    px = np.empty((h, w, 4), dtype=np.uint8)
    px[:, :, 0], px[:, :, 1], px[:, :, 2], px[:, :, 3] = c, m, y_, k
    return encode_jpeg(w, h, 4, px.tobytes())


def test_jpeg_adobe_cmyk_constant_composite_exact():
    """Transform-0 CMYK: constant component planes are DC-only, so the
    stored (inverted) values roundtrip exactly and the composite
    RGB = (c*k + 127) // 255 is deterministic."""
    p = _cmyk_payload(200, 100, 50, 230)
    assert b"Adobe" in p
    w, h, c, px = decode_jpeg(p)
    assert (w, h, c) == (16, 16, 3)
    arr = np.frombuffer(px, np.uint8).reshape(16, 16, 3)
    exp = [(200 * 230 + 127) // 255, (100 * 230 + 127) // 255,
           (50 * 230 + 127) // 255]
    assert arr[0, 0].tolist() == exp and (arr == arr[0, 0]).all()


def test_jpeg_ycck_transform_composites_via_bt601():
    """Patching the APP14 transform byte to 2 routes the same planes
    through the BT.601 YCC step before the K composite."""
    p = _cmyk_payload(100, 200, 50, 255)
    at = p.index(b"Adobe")
    p2 = p[: at + 11] + bytes([2]) + p[at + 12 :]
    w, h, c, px = decode_jpeg(p2)
    arr = np.frombuffer(px, np.uint8).reshape(16, 16, 3)
    yv, cb, cr = 100.0, 200.0 - 128.0, 50.0 - 128.0
    cmy = np.clip(
        np.round([yv + 1.402 * cr, yv - 0.344136 * cb - 0.714136 * cr,
                  yv + 1.772 * cb]), 0, 255
    ).astype(np.int64)
    exp = ((cmy * 255 + 127) // 255).tolist()
    assert arr[0, 0].tolist() == exp and (arr == arr[0, 0]).all()


def test_jpeg_4comp_without_adobe_marker_refused():
    p = _cmyk_payload(10, 20, 30, 40)
    at = p.index(b"\xff\xee")
    seglen = (p[at + 2] << 8) | p[at + 3]
    stripped = p[:at] + p[at + 2 + seglen :]
    with pytest.raises(JpegUnsupported):
        decode_jpeg(stripped)
    # transform 1 (YCbCr) is a 3-component flag — invalid with 4 comps
    at = p.index(b"Adobe")
    p1 = p[: at + 11] + bytes([1]) + p[at + 12 :]
    with pytest.raises(JpegUnsupported):
        decode_jpeg(p1)


def test_jpeg_cmyk_fuzz_never_escapes_jpeg_unsupported():
    rng = np.random.default_rng(47)
    base = _cmyk_payload(200, 100, 50, 230)
    for _ in range(400):
        b = bytearray(base)
        for _ in range(rng.integers(1, 6)):
            b[rng.integers(2, len(b))] = rng.integers(0, 256)
        try:
            decode_jpeg(bytes(b))
        except JpegUnsupported:
            pass


# --------------------------------------------------------- PNG 16-bit


def _png_chunks(w, h, depth, color, raw_scanlines, interlace=0):
    import struct as st
    import zlib

    def chunk(ctype, body):
        c = st.pack(">I", len(body)) + ctype + body
        return c + st.pack(">I", zlib.crc32(ctype + body))

    ihdr = st.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw_scanlines))
        + chunk(b"IEND", b"")
    )


def test_png_16bit_decodes_high_bytes_with_filters():
    """16-bit PNGs (scientific/scanner corpora) decode via the same
    byte-filter machinery at distance channels*2; output takes each
    sample's high byte (the spec 16->8 reduction). Exercise filters
    0/1/2 on gray16 and rgb16."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.png import (
        decode_png,
    )

    rng = np.random.default_rng(16)
    for color, ch in ((0, 1), (2, 3), (4, 2), (6, 4)):
        w, h = 7, 5
        px16 = rng.integers(0, 65536, size=(h, w * ch), dtype=np.uint16)
        rows_bytes = px16.astype(">u2").tobytes()
        rb = np.frombuffer(rows_bytes, np.uint8).reshape(h, w * ch * 2)
        ch2 = ch * 2
        scan = bytearray()
        for y in range(h):
            if y % 3 == 0:
                scan += b"\x00" + rb[y].tobytes()
            elif y % 3 == 1:  # Sub at byte distance ch2
                line = rb[y].astype(np.int16)
                prev = np.concatenate([np.zeros(ch2, np.int16), line[:-ch2]])
                # recover the filtered bytes: f[x] = o[x] - o[x-ch2]
                o = rb[y].astype(np.int16)
                op = np.concatenate([np.zeros(ch2, np.int16), o[:-ch2]])
                scan += b"\x01" + ((o - op) % 256).astype(np.uint8).tobytes()
            else:  # Up
                o = rb[y].astype(np.int16)
                up = rb[y - 1].astype(np.int16)
                scan += b"\x02" + ((o - up) % 256).astype(np.uint8).tobytes()
        p = _png_chunks(w, h, 16, color, bytes(scan))
        gw, gh, gc, px = decode_png(p)
        got = np.frombuffer(px, np.uint8)
        want_full = (px16 >> 8).astype(np.uint8).reshape(h, w, ch)
        if color == 4:  # decoder may fold/drop alpha — check shape only
            assert (gw, gh) == (w, h)
        elif color == 6:
            assert (gw, gh) == (w, h)
        else:
            assert (gw, gh, gc) == (w, h, ch)
            assert (got.reshape(h, w, ch) == want_full).all()


def test_png_16bit_adam7_interlaced():
    """2x2 gray16 Adam7: pass 1 = (0,0), pass 6 = (1,0), pass 7 = row
    1 — each sample's high byte must scatter to the right cell."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.png import (
        decode_png,
    )

    # samples (hi,lo): (0,0)=0xAA01, (1,0)=0xBB02, (0,1)=0xCC03, (1,1)=0xDD04
    scan = (
        b"\x00\xaa\x01"          # pass 1: (0,0)
        + b"\x00\xbb\x02"        # pass 6: (1,0)
        + b"\x00\xcc\x03\xdd\x04"  # pass 7: row 1
    )
    p = _png_chunks(2, 2, 16, 0, scan, interlace=1)
    w, h, c, px = decode_png(p)
    assert (w, h, c) == (2, 2, 1)
    assert list(px) == [0xAA, 0xBB, 0xCC, 0xDD]


def test_png_16bit_palette_refused_and_fuzz_safe():
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.png import (
        PngUnsupported,
        decode_png,
    )

    p = _png_chunks(4, 4, 16, 3, b"\x00" * (4 * (1 + 8)))
    with pytest.raises(PngUnsupported):
        decode_png(p)
    rng = np.random.default_rng(161)
    base = _png_chunks(
        6, 6, 16, 0,
        b"".join(b"\x00" + bytes(12) for _ in range(6)),
    )
    for _ in range(300):
        b = bytearray(base)
        for _ in range(rng.integers(1, 5)):
            b[rng.integers(8, len(b))] = rng.integers(0, 256)
        try:
            decode_png(bytes(b))
        except PngUnsupported:
            pass


# ----------------------------------------------- G.711 telephony WAV


def test_g711_tables_match_audioop_reference():
    """The closed-form expansions must match CPython's audioop (an
    independent G.711 implementation) on all 256 codes, both laws. The
    reference is ``tests/golden/g711.json``: audioop's ulaw2lin/alaw2lin
    of every code, captured under Python 3.11, so the check outlives
    the module's removal in 3.13."""
    import json
    from pathlib import Path

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.wav import (
        _ALAW_LIN,
        _ULAW_LIN,
    )

    ref = json.loads((Path(__file__).parent / "golden" / "g711.json").read_text())
    ref_u = np.array(ref["ulaw"], dtype=np.int32)
    ref_a = np.array(ref["alaw"], dtype=np.int32)
    assert ref_u.shape == ref_a.shape == (256,)
    assert (_ULAW_LIN == ref_u).all()
    assert (_ALAW_LIN == ref_a).all()


def test_g711_wav_roundtrip_and_validation():
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.wav import (
        WavUnsupported,
        _ULAW_LIN,
        decode_wav,
        encode_wav_g711,
    )

    codes = np.arange(130, dtype=np.uint8)  # odd count -> pad byte
    p = encode_wav_g711(8000, 2, "ulaw", codes)
    rate, ch, bits, s = decode_wav(p)
    assert (rate, ch, bits, s.shape) == (8000, 2, 8, (65, 2))
    assert (s.reshape(-1) == _ULAW_LIN[codes]).all()
    with pytest.raises(WavUnsupported):
        encode_wav_g711(8000, 1, "gsm", codes)
    with pytest.raises(WavUnsupported):
        encode_wav_g711(8000, 3, "alaw", codes)  # 130 % 3 != 0
    # a G.711 fmt chunk claiming 16 bits must be refused
    bad = bytearray(encode_wav_g711(8000, 1, "alaw", codes[:64]))
    bad[34] = 16
    with pytest.raises(WavUnsupported):
        decode_wav(bytes(bad))


def test_g711_wav_fuzz_never_escapes_wav_unsupported():
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.wav import (
        WavUnsupported,
        decode_wav,
        encode_wav_g711,
    )

    rng = np.random.default_rng(77)
    base = encode_wav_g711(8000, 1, "ulaw", np.arange(64, dtype=np.uint8))
    for _ in range(300):
        b = bytearray(base)
        for _ in range(rng.integers(1, 5)):
            b[rng.integers(0, len(b))] = rng.integers(0, 256)
        try:
            decode_wav(bytes(b))
        except WavUnsupported:
            pass


# ----------------------------------------------------------- AIFF audio


def test_aiff_matches_stdlib_aifc_reference():
    """Roundtrips at 8/16/32-bit checked against CPython's aifc module
    (an independent AIFF implementation); 24-bit and AIFC/sowt
    (little-endian) roundtrip through our codec; AIFF 8-bit is SIGNED
    (unlike WAV)."""
    import io
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import aifc

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.aiff import (
        decode_aiff,
        encode_aiff,
    )

    rng = np.random.default_rng(61)
    for bits, dt in ((8, np.int8), (16, ">i2"), (32, ">i4")):
        lo, hi = -(2 ** (bits - 1)), 2 ** (bits - 1) - 1
        s = rng.integers(lo, hi + 1, size=(50, 2), dtype=np.int64)
        p = encode_aiff(44100, 2, bits, s)
        r, ch, b, got = decode_aiff(p)
        assert (r, ch, b) == (44100, 2, bits) and (got == s).all()
        f = aifc.open(io.BytesIO(p))
        assert (f.getframerate(), f.getnchannels(), f.getsampwidth()) == (
            44100, 2, bits // 8,
        )
        ref = np.frombuffer(f.readframes(50), dt).astype(np.int64).reshape(50, 2)
        assert (ref == s).all()
    s24 = rng.integers(-(2 ** 23), 2 ** 23, size=(33, 1), dtype=np.int64)
    _r, _c, _b, got = decode_aiff(encode_aiff(8000, 1, 24, s24))
    assert (got.reshape(-1) == s24.reshape(-1)).all()
    p = encode_aiff(8000, 1, 16, s24 >> 8, sowt=True)
    assert aifc.open(io.BytesIO(p)).getcomptype() == b"sowt"
    _r, _c, _b, got = decode_aiff(p)
    assert (got.reshape(-1) == (s24 >> 8).reshape(-1)).all()


def test_aiff_validation_and_fuzz():
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.aiff import (
        AiffUnsupported,
        decode_aiff,
        encode_aiff,
    )

    base = encode_aiff(8000, 1, 16, np.arange(64, dtype=np.int16))
    # an AIFC compression id other than NONE/sowt is refused
    comp = encode_aiff(8000, 1, 16, np.arange(64, dtype=np.int16), sowt=True)
    bad = comp.replace(b"sowt", b"ima4")
    with pytest.raises(AiffUnsupported):
        decode_aiff(bad)
    rng = np.random.default_rng(611)
    for _ in range(300):
        b = bytearray(base)
        for _ in range(rng.integers(1, 5)):
            b[rng.integers(0, len(b))] = rng.integers(0, 256)
        try:
            decode_aiff(bytes(b))
        except AiffUnsupported:
            pass


# -------------------------------------------------------- ICO container


def test_ico_roundtrips_and_routes_in_extract_features(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.ico import (
        decode_ico,
        encode_ico,
        encode_ico_png,
    )
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
        extract_features,
    )
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.png import (
        encode_png,
    )

    rng = np.random.default_rng(55)
    for ch in (1, 3, 4):
        img = rng.integers(0, 256, size=(17, 23, ch), dtype=np.uint8)
        w, h, c, px = decode_ico(encode_ico(23, 17, ch, img.tobytes()))
        assert (w, h, c) == (23, 17, ch)
        assert (np.frombuffer(px, np.uint8).reshape(17, 23, ch) == img).all()
    # PNG entry route
    g = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    pico = encode_ico_png(encode_png(16, 16, 1, g.tobytes()), 16, 16)
    w, h, c, px = decode_ico(pico)
    assert (w, h, c, px) == (16, 16, 1, g.tobytes())
    # extract_features routing emits pixel columns for ICO payloads
    df = spark.createDataFrame(
        [(1, bytearray(pico), {"mime": "image/x-icon"})],
        "doc_id long, payload binary, meta map<string,string>",
    )
    row = extract_features(df).collect()[0]
    assert (row["width"], row["height"], row["channels"]) == (16, 16, 1)
    assert row["pixel_sum"] == int(g.astype(np.int64).sum())


def test_ico_largest_entry_selection_and_fuzz():
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.ico import (
        IcoUnsupported,
        decode_ico,
        encode_ico,
    )

    rng = np.random.default_rng(551)
    small = rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
    big = rng.integers(0, 256, size=(24, 24), dtype=np.uint8)
    # hand-build a two-entry directory from two single-entry icos
    a = encode_ico(8, 8, 1, small.tobytes())
    b = encode_ico(24, 24, 1, big.tobytes())
    body_a, body_b = a[22:], b[22:]
    off_a = 6 + 32
    off_b = off_a + len(body_a)
    import struct as st

    ent = st.pack("<BBBBHHII", 8, 8, 0, 0, 1, 8, len(body_a), off_a)
    ent += st.pack("<BBBBHHII", 24, 24, 0, 0, 1, 8, len(body_b), off_b)
    two = b"\x00\x00\x01\x00\x02\x00" + ent + body_a + body_b
    w, h, c, px = decode_ico(two)
    assert (w, h) == (24, 24)  # the LARGER entry wins
    assert (np.frombuffer(px, np.uint8).reshape(24, 24) == big).all()
    for _ in range(300):
        m = bytearray(two)
        for _ in range(rng.integers(1, 5)):
            m[rng.integers(4, len(m))] = rng.integers(0, 256)
        try:
            decode_ico(bytes(m))
        except IcoUnsupported:
            pass


# ----------------------------------------------------------- TIFF tiles


def test_tiff_tiled_roundtrips_all_compressions():
    """Tiled layout (GeoTIFF/scanner corpora): full-size tiles, edge
    tiles padded and cropped, per-tile LZW/predictor — exact for every
    supported compression; strip output stays byte-identical to r12
    (frozen-oracle compat, asserted by the unchanged strip tests)."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.tiff import (
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.default_rng(33)
    for ch in (1, 3, 4):
        for comp, pred in ((1, 1), (5, 1), (5, 2)):
            img = rng.integers(0, 256, size=(37, 53, ch), dtype=np.uint8)
            p = encode_tiff(
                53, 37, ch, img.tobytes(),
                compression=comp, predictor=pred, tile=(16, 16),
            )
            w, h, c, out = decode_tiff(p)
            got = np.frombuffer(out, np.uint8).reshape(37, 53, ch)
            assert (w, h, c) == (53, 37, ch)
            assert (got == img).all(), (ch, comp, pred)


def test_tiff_tiled_validation_and_fuzz():
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.tiff import (
        TiffUnsupported,
        decode_tiff,
        encode_tiff,
    )

    img = np.arange(32 * 32, dtype=np.uint8).reshape(32, 32)
    with pytest.raises(TiffUnsupported):
        encode_tiff(32, 32, 1, img.tobytes(), tile=(10, 16))  # not %16
    base = encode_tiff(32, 32, 1, img.tobytes(), tile=(16, 16), compression=5)
    rng = np.random.default_rng(331)
    for _ in range(300):
        b = bytearray(base)
        for _ in range(rng.integers(1, 5)):
            b[rng.integers(4, len(b))] = rng.integers(0, 256)
        try:
            decode_tiff(bytes(b))
        except TiffUnsupported:
            pass


# ------------------------------------------------------- BPE training


def _reference_bpe(texts, n_merges, min_freq=2, lowercase=False):
    """Independent pure-Python Sennrich BPE with the pinned tie-break
    (count desc, then lexicographic (left, right)) — the cross-check
    the distributed trainer must match merge-for-merge."""
    from collections import Counter

    vocab = Counter()
    for t in texts:
        if lowercase:
            t = t.lower()
        for w in t.split():
            if w:
                vocab[tuple(list(w) + ["</w>"])] += 1
    merges = []
    for k in range(n_merges):
        pairs = Counter()
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        if not pairs:
            break
        (left, right), freq = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if freq < min_freq:
            break
        merges.append((k, left, right, freq))
        new_vocab = Counter()
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] += n
        vocab = new_vocab
    return merges


_BPE_CORPUS = [
    "low lower lowest low low",
    "new newer newest new newer",
    "wide wider widest wide",
    "low newer wide lowest",
    "the newer the lower the wider",
]


def test_bpe_train_matches_reference_merge_for_merge(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bpe import (
        bpe_train,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_BPE_CORPUS)], "doc_id long, text string"
    )
    got = bpe_train(df, n_merges=20, min_freq=2)
    want = _reference_bpe(_BPE_CORPUS, 20, min_freq=2)
    assert got == want
    assert len(got) >= 10  # the corpus genuinely supports many merges


def test_bpe_train_min_freq_stops_early(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bpe import (
        bpe_train,
    )

    df = spark.createDataFrame([(1, "ab cd ef")], "doc_id long, text string")
    # every pair occurs once: min_freq=2 learns nothing
    assert bpe_train(df, n_merges=5, min_freq=2) == []
    with pytest.raises(ValueError):
        bpe_train(df, n_merges=0)


def test_bpe_train_leaves_no_persistent_rdds(spark):
    """bpe_train localCheckpoints per 8 merges; the storage must be
    released before returning — a leaked checkpoint polluted the
    session-wide no-cache assertions of unrelated tests (caught by the
    full-suite run, invisible in isolation)."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bpe import (
        bpe_train,
    )

    spark.catalog.clearCache()
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_BPE_CORPUS)], "doc_id long, text string"
    )
    bpe_train(df, n_merges=12, min_freq=2, checkpoint_every=4)
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == before


def test_bpe_apply_counts_tokens_with_learned_merges(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bpe import (
        bpe_apply,
        bpe_segment,
        bpe_train,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_BPE_CORPUS)], "doc_id long, text string"
    )
    merges = bpe_train(df, n_merges=15, min_freq=2)
    rows = {r["doc_id"]: r for r in bpe_apply(df, merges).collect()}
    for i, t in enumerate(_BPE_CORPUS):
        words = t.split()
        want = sum(len(bpe_segment(w, merges)) for w in words)
        assert rows[i]["n_tokens"] == want
        assert rows[i]["n_words"] == len(words)
    # more merges => tokens never increase
    rows0 = {r["doc_id"]: r for r in bpe_apply(df, []).collect()}
    for i in rows:
        assert rows[i]["n_tokens"] <= rows0[i]["n_tokens"]


# ------------------------------------------- animated-GIF demux (r13)


def test_gif_animation_fixture_crosses_all_disposal_paths():
    """The multimodal_gif_frames fixture semantics, asserted directly:
    transparency holes keep prior content, disposal 2 restores the
    rect to background, disposal 3 restores the previous canvas."""
    cp = np.arange(88, dtype=np.uint8) + 10
    cp[70] = 0  # one genuine transparent hole in frame 1
    p = encode_gif_animation(
        8, 8,
        [cp[:64].reshape(8, 8), cp[64:80].reshape(4, 4),
         cp[80:84].reshape(2, 2), cp[84:88].reshape(2, 2)],
        disposals=[0, 2, 3, 0],
        transparents=[None, 0, None, None],
        offsets=[(0, 0), (2, 2), (0, 0), (6, 0)],
    )
    w, h, frames = decode_gif_frames(p)
    assert (w, h, len(frames)) == (8, 8, 4)
    f = [np.frombuffer(fr, np.uint8).reshape(8, 8, 3) for fr in frames]
    canvas0 = cp[:64].reshape(8, 8)
    assert (f[0] == canvas0[:, :, None]).all()
    # frame 1: rect (2,2)-(5,5) overdrawn except the hole at j=6
    # (row 2+1, col 2+2), which keeps frame-0 content
    j_hole = 70 - 64
    hr, hc = 2 + j_hole // 4, 2 + j_hole % 4
    assert f[1][hr, hc, 0] == canvas0[hr, hc]
    assert f[1][2, 2, 0] == cp[64]
    # frame 2: disposal 2 zeroed the frame-1 rect to background (0)
    assert (f[2][2:6, 2:6] == 0).all()
    assert f[2][0, 0, 0] == cp[80]
    # frame 3: disposal 3 restored the pre-frame-2 canvas, so (0,0)
    # shows frame-0 content again while (0,6) carries frame-3 pixels
    assert f[3][0, 0, 0] == canvas0[0, 0]
    assert f[3][0, 6, 0] == cp[84]
    assert (f[3][2:6, 2:6] == 0).all()  # rect1 zeroing persists


def test_gif_frames_fuzz_never_escapes_gif_unsupported():
    """Corrupting any byte of an animated GIF (descriptors, control
    extensions, LZW min-code, stream bytes) may demux or raise
    GifUnsupported — never ValueError/IndexError, which would fail a
    whole Spark task instead of routing to the byte-splitter
    fallback in sample_frames."""
    rng = np.random.default_rng(131)
    cp = (np.arange(88, dtype=np.uint8) * 3 + 5) % 256
    base = encode_gif_animation(
        8, 8,
        [cp[:64].reshape(8, 8), cp[64:80].reshape(4, 4),
         cp[80:84].reshape(2, 2), cp[84:88].reshape(2, 2)],
        disposals=[0, 2, 3, 0],
        transparents=[None, 0, None, None],
        offsets=[(0, 0), (2, 2), (0, 0), (6, 0)],
    )
    for _ in range(400):
        b = bytearray(base)
        for _ in range(rng.integers(1, 6)):
            b[rng.integers(6, len(b))] = rng.integers(0, 256)
        try:
            decode_gif_frames(bytes(b))
        except GifUnsupported:
            pass


def test_frame_features_digest_matches_demux(spark):
    """Spark-side plumbing for the new oracle query: synthesize ->
    demux -> digest, checked against a local decode of one doc."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
        frame_features,
        sample_frames,
        text_to_gif_animation_payload,
    )

    df = spark.createDataFrame(
        [(1, "The quick brown fox jumps over the lazy dog — and then some ünïcode Ā tail padding!")],
        "doc_id long, text string",
    )
    rows = (
        frame_features(sample_frames(text_to_gif_animation_payload(df), every_n=1))
        .orderBy("frame_no")
        .collect()
    )
    assert [r["frame_no"] for r in rows] == [0, 1, 2, 3]
    assert all(r["frame_len"] == 192 for r in rows)
    s = "The quick brown fox jumps over the lazy dog — and then some ünïcode Ā tail padding!"[:88].ljust(88)
    cp = np.array([ord(ch) % 256 for ch in s], dtype=np.uint8)
    p = encode_gif_animation(
        8, 8,
        [cp[:64].reshape(8, 8), cp[64:80].reshape(4, 4),
         cp[80:84].reshape(2, 2), cp[84:88].reshape(2, 2)],
        disposals=[0, 2, 3, 0],
        transparents=[None, 0, None, None],
        offsets=[(0, 0), (2, 2), (0, 0), (6, 0)],
    )
    _w, _h, frames = decode_gif_frames(p)
    for r, fr in zip(rows, frames):
        assert r["frame_sum"] == int(np.frombuffer(fr, np.uint8).sum())
