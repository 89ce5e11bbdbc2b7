"""Round-12 tests: IEEE-float WAV (VERDICT r11 #2), the trailing-chunk
tolerance (ADVICE r11), the baseline + PROGRESSIVE JPEG codec (VERDICT
r11 #1 + second wave), and the GIF codec (second wave)."""

import random
import struct

import numpy as np
import pytest

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.wav import (
    WavUnsupported,
    decode_wav,
    encode_wav,
)


# ------------------------------------------------------ float WAV
def test_wav_float32_and_float64_roundtrip_bit_exact():
    rng = np.random.default_rng(12)
    for bits, dt in ((32, np.float32), (64, np.float64)):
        for ch in (1, 2, 6):
            x = rng.standard_normal((257, ch)).astype(dt)
            b = encode_wav(48000, ch, bits, x)
            rate, c2, b2, y = decode_wav(b)
            assert (rate, c2, b2) == (48000, ch, bits)
            assert y.dtype == dt and y.shape == x.shape
            # bit-exact: float payloads are stored verbatim, no clamp
            assert y.tobytes() == x.tobytes()


def test_wav_float_nan_inf_and_out_of_range_roundtrip():
    # the codec stores float samples verbatim — values beyond the
    # nominal ±1.0 full-scale (and non-finite values) are legal on
    # disk and must survive the round-trip bit-for-bit
    x = np.array([[np.nan], [np.inf], [-np.inf], [37.5], [-2.0]], dtype=np.float32)
    _, _, _, y = decode_wav(encode_wav(8000, 1, 32, x))
    assert y.tobytes() == x.tobytes()


def test_wav_float_bits_validation():
    x = np.zeros((4, 1), dtype=np.float32)
    for bad in (8, 16, 24):
        with pytest.raises(WavUnsupported):
            encode_wav(8000, 1, bad, x)
    # a format-3 header claiming 16-bit is refused at decode too
    b = bytearray(encode_wav(8000, 1, 32, x))
    struct.pack_into("<H", b, 34, 16)   # bits
    struct.pack_into("<H", b, 32, 2)    # keep block_align consistent
    with pytest.raises(WavUnsupported):
        decode_wav(bytes(b))


def test_wav_extensible_float_guid_decodes():
    # rewrap a canonical format-3 payload as WAVE_FORMAT_EXTENSIBLE
    # with the IEEE-float SubFormat GUID
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.wav import (
        _FLOAT_GUID,
    )

    x = np.array([[0.25, -0.5], [1.0, 0.0]], dtype=np.float32)
    core = encode_wav(44100, 2, 32, x)
    base_fmt = core[20:36]  # the 16 packed fmt fields
    # EXTENSIBLE layout: base 16 (format word -> 0xFFFE) + cbSize(22)
    # + wValidBits + dwChannelMask + SubFormat GUID = 40 bytes
    ext = (
        struct.pack("<H", 0xFFFE) + base_fmt[2:]
        + struct.pack("<HHI", 22, 32, 0x3) + _FLOAT_GUID
    )
    assert len(ext) == 40
    data_chunk = core[36:]  # from the 'data' header on
    body = b"fmt " + struct.pack("<I", len(ext)) + ext + data_chunk
    payload = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    rate, ch, bits, y = decode_wav(payload)
    assert (rate, ch, bits) == (44100, 2, 32)
    assert y.tobytes() == x.tobytes()


def test_wav_trailing_malformed_chunk_tolerated_after_fmt_and_data():
    # ADVICE r11: a trailing chunk whose declared size overruns the
    # payload is a common corruption; once fmt+data are in hand the
    # walk must stop, not refuse the file
    good = encode_wav(8000, 1, 16, np.array([10, -10, 300], dtype=np.int32))
    corrupt = good + b"LIST" + struct.pack("<I", 10**6) + b"xx"
    rate, ch, bits, y = decode_wav(corrupt)
    assert y.ravel().tolist() == [10, -10, 300]
    # but the same overrun BEFORE data is still a refusal (the audio
    # itself is not provably intact)
    fmt_chunk = good[12:12 + 8 + 16]
    data_chunk = good[12 + 8 + 16:]
    body = fmt_chunk + b"LIST" + struct.pack("<I", 10**6) + b"xx" + data_chunk
    payload = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    with pytest.raises(WavUnsupported):
        decode_wav(payload)


def test_wav_float_fuzz_never_raises_foreign_exceptions():
    rnd = random.Random(12)
    good = bytearray(encode_wav(8000, 2, 32, np.zeros((16, 2), dtype=np.float32)))
    for _ in range(300):
        b = bytes(
            x if rnd.random() > 0.15 else rnd.randrange(256) for x in good
        )
        try:
            decode_wav(b)
        except WavUnsupported:
            pass  # the only allowed failure mode


def test_extract_audio_features_float_quantizes_to_codepoint_grid(spark):
    # the float fixture path: samples = cp/32767.0 must quantize back
    # to exactly the codepoints, so sum/sumsq equal the 8-bit twin's
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
        extract_audio_features,
        text_to_wav_payload,
    )

    df = spark.createDataFrame(
        [(4, "hello world"), (5, "hello world")], "doc_id long, text string"
    )
    feats = (
        extract_audio_features(text_to_wav_payload(df, "text", float_every=4))
        .orderBy("doc_id")
        .collect()
    )
    by_id = {r["doc_id"]: r for r in feats}
    assert by_id[4]["bits"] == 32 and by_id[5]["bits"] == 8
    for col in ("sample_sum", "sample_sumsq", "n_frames", "sample_rate"):
        assert by_id[4][col] == by_id[5][col], col
    cps = [ord(c) for c in "hello world".ljust(64)]
    assert by_id[4]["sample_sum"] == sum(cps)
    assert by_id[4]["sample_sumsq"] == sum(c * c for c in cps)


def test_resample_audio_float_wav_keeps_format(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
        resample_audio,
    )

    x = (np.arange(100, dtype=np.float32) / 100.0).reshape(-1, 1)
    payload = encode_wav(8000, 1, 32, x)
    df = spark.createDataFrame(
        [(1, bytearray(payload), {"mime": "audio/wav", "n_bytes": len(payload)})],
        "doc_id long, payload binary, meta map<string,string>",
    )
    row = resample_audio(df, 4000).collect()[0]
    rate, ch, bits, y = decode_wav(bytes(row["payload"]))
    assert (rate, ch, bits) == (4000, 1, 32)
    assert y.dtype == np.float32 and y.shape[0] == 50
    # nearest-frame policy: frame j comes from floor(j * 100 / 50)
    assert y.ravel().tolist() == x[::2].ravel().tolist()


# ------------------------------------------------------ JPEG codec
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.jpeg import (  # noqa: E402
    JpegUnsupported,
    decode_jpeg,
    encode_jpeg,
    is_jpeg,
)


def _gray(arr):
    h, w = arr.shape
    return encode_jpeg(w, h, 1, arr.astype(np.uint8).tobytes())


def test_jpeg_dc_only_gray_roundtrip_exact():
    # constant 8x8 blocks are DC-only; with the all-ones quant table
    # the lossy pipeline is EXACT for them — the property the oracle
    # fixture is built on
    vals = np.array([[0, 65, 255], [128, 3, 200]], dtype=np.uint8)
    img = np.repeat(np.repeat(vals, 8, 0), 8, 1)  # 16x24
    w, h, c, px = decode_jpeg(_gray(img))
    assert (w, h, c) == (24, 16, 1)
    assert np.frombuffer(px, dtype=np.uint8).reshape(16, 24).tolist() == img.tolist()


@pytest.mark.parametrize("sub", ["444", "420"])
def test_jpeg_dc_only_color_roundtrip_exact(sub):
    # R=G=B constant blocks: Y = value, Cb = Cr = 128 exactly under
    # BT.601 — color conversion, subsampling and MCU interleave all
    # invert exactly
    vals = np.array([[10, 250], [128, 77]], dtype=np.uint8)
    img = np.repeat(np.repeat(vals, 8, 0), 8, 1)
    rgb = np.repeat(img[:, :, None], 3, axis=2)
    p = encode_jpeg(16, 16, 3, rgb.tobytes(), subsampling=sub)
    w, h, c, px = decode_jpeg(p)
    assert (w, h, c) == (16, 16, 3)
    assert np.frombuffer(px, dtype=np.uint8).reshape(16, 16, 3).tolist() == rgb.tolist()


def test_jpeg_noise_roundtrip_near_lossless_with_unit_quant():
    # general content with q=1: the only loss is coefficient rounding,
    # which bounds pixel error to a few counts — this exercises the
    # FULL AC Huffman path (runs, ZRL, magnitude categories) both ways
    rng = np.random.default_rng(1212)
    g = rng.integers(0, 256, (17, 13), dtype=np.uint8)  # odd dims: padding
    w, h, c, px = decode_jpeg(_gray(g))
    assert (w, h, c) == (13, 17, 1)
    err = np.abs(np.frombuffer(px, np.uint8).reshape(17, 13).astype(int) - g.astype(int))
    assert err.max() <= 2

    # 444 bound: +/-0.5 YCbCr round x ~2.4 conversion gain + DCT
    # rounding ~= 4
    rgb = rng.integers(0, 256, (24, 40, 3), dtype=np.uint8)
    p = encode_jpeg(40, 24, 3, rgb.tobytes(), subsampling="444")
    w, h, c, px = decode_jpeg(p)
    assert (w, h, c) == (40, 24, 3)
    out = np.frombuffer(px, np.uint8).reshape(24, 40, 3).astype(int)
    assert np.abs(out - rgb.astype(int)).max() <= 5

    # 420: per-pixel chroma noise is destroyed BY DESIGN (2x2 box
    # mean), so use chroma that is constant per 2x2 box — half-res
    # noise upsampled x2 — where subsampling itself is lossless and
    # the same near-lossless bound must hold
    half = rng.integers(0, 256, (12, 20, 3), dtype=np.uint8)
    rgb2 = np.repeat(np.repeat(half, 2, axis=0), 2, axis=1)
    p = encode_jpeg(40, 24, 3, rgb2.tobytes(), subsampling="420")
    w, h, c, px = decode_jpeg(p)
    assert (w, h, c) == (40, 24, 3)
    out = np.frombuffer(px, np.uint8).reshape(24, 40, 3).astype(int)
    assert np.abs(out - rgb2.astype(int)).max() <= 5


def test_jpeg_annex_k_quant_table_and_restart_markers():
    rng = np.random.default_rng(7)
    qt = np.array(
        [16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
         14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
         18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
         49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99],
        dtype=np.int32,
    )
    g = rng.integers(0, 256, (32, 24), dtype=np.uint8)
    p = encode_jpeg(24, 32, 1, g.tobytes(), qtable=qt)
    w, h, c, px = decode_jpeg(p)
    assert (w, h, c) == (24, 32, 1)  # lossy but structurally exact

    # restart markers: RSTn every 2 MCUs must decode identically to
    # the no-DRI stream (predictor resets and segment walk both right)
    rgb = rng.integers(0, 256, (24, 40, 3), dtype=np.uint8)
    p_rst = encode_jpeg(40, 24, 3, rgb.tobytes(), subsampling="420", restart_interval=2)
    p_none = encode_jpeg(40, 24, 3, rgb.tobytes(), subsampling="420")
    assert b"\xff\xd0" in p_rst or b"\xff\xd1" in p_rst
    assert decode_jpeg(p_rst)[3] == decode_jpeg(p_none)[3]


def test_jpeg_byte_stuffing_roundtrip():
    # hunt a payload whose entropy stream contains stuffed 0xFF00 —
    # the unstuffing path must reproduce pixels exactly (q=1, DC-only
    # so the roundtrip stays exact even with stuffing present)
    found = 0
    for b in range(0, 256, 5):
        img = np.repeat(
            np.repeat(np.array([[0, b]], dtype=np.uint8), 8, 0), 8, 1
        )
        p = encode_jpeg(16, 8, 1, img.tobytes())
        scan = p[p.index(b"\xff\xda") :]
        if b"\xff\x00" in scan:
            found += 1
            w, h, c, px = decode_jpeg(p)
            assert np.frombuffer(px, np.uint8).reshape(8, 16).tolist() == img.tolist()
    assert found >= 10, "stuffing sweep produced too few stuffed streams"


def test_jpeg_handcrafted_bitstream_decodes_known_coefficients():
    # decoder-only check, independent of our encoder: a minimal JPEG
    # built byte-by-byte with a trivial DHT (codes '0'=sym0, '10'=sym6
    # for DC; AC table with EOB='0') and a hand-assembled entropy
    # stream: DC category 6, magnitude bits 111111 (= +63), EOB.
    # Expected block: constant DC = +63 -> pixel = 63/8... with q=8
    # the dequantized DC is 63*8 = 504 -> pixel = 504/8 + 128 = 191.
    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(body)) + body

    zz_q = bytes([8] + [1] * 63)  # DC quant 8, AC 1 (zigzag order)
    dqt = seg(0xDB, bytes([0x00]) + zz_q)
    sof = seg(0xC0, bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))
    # DC table: bits=[1,1,0...] -> '0'->first val (6); '10'->second (0)
    dht_dc = seg(0xC4, bytes([0x00]) + bytes([1, 1] + [0] * 14) + bytes([6, 0]))
    # AC table: one 1-bit code '0' -> 0x00 (EOB)
    dht_ac = seg(0xC4, bytes([0x10]) + bytes([1] + [0] * 15) + bytes([0x00]))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    # entropy: '0' (DC cat 6) + '111111' (+63) + '0' (EOB) = 8 bits
    entropy = bytes([0b01111110])
    p = b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos + entropy + b"\xff\xd9"
    w, h, c, px = decode_jpeg(p)
    assert (w, h, c) == (8, 8, 1)
    assert set(px) == {191}


def test_jpeg_amplification_guard_is_a_constant_cap():
    # a tiny payload declaring huge dimensions must be refused BEFORE
    # any allocation — the cap is a constant, not header-relative
    img = np.full((8, 8), 9, dtype=np.uint8)
    p = bytearray(_gray(img))
    i = p.index(b"\xff\xc0")
    struct.pack_into(">HH", p, i + 5, 30000, 30000)
    with pytest.raises(JpegUnsupported, match="cap"):
        decode_jpeg(bytes(p))


def test_jpeg_hostile_payloads_raise_jpegunsupported_only():
    rng = random.Random(12)
    good = encode_jpeg(16, 16, 1, bytes(range(256)))
    hostile = [b"", b"\xff\xd8", b"\xff\xd8\xff", b"\xff\xd8\xff\xe0"]
    hostile += [good[:n] for n in (4, 10, 25, 60, len(good) - 6)]
    for i in (2, 5, 21, 40, 80, len(good) // 2, len(good) - 10):
        hostile.append(good[:i] + bytes([good[i] ^ 0xFF]) + good[i + 1 :])
    hostile += [
        b"\xff\xd8\xff" + bytes(rng.randrange(256) for _ in range(64))
        for _ in range(10)
    ]
    saw_raise = 0
    for p in hostile:
        try:
            decode_jpeg(p)
        except JpegUnsupported:
            saw_raise += 1
        # any other exception type fails the test by propagating
    assert saw_raise >= len(hostile) - 4  # bit flips in entropy data may still decode


def test_jpeg_unsupported_codings_refused():
    img = np.full((8, 8), 50, dtype=np.uint8)
    p = bytearray(_gray(img))
    i = p.index(b"\xff\xc0")
    p[i + 1] = 0xC3  # SOF3: lossless
    with pytest.raises(JpegUnsupported, match="lossless"):
        decode_jpeg(bytes(p))
    p[i + 1] = 0xC9  # arithmetic sequential
    with pytest.raises(JpegUnsupported, match="arithmetic"):
        decode_jpeg(bytes(p))
    # SOF2 (progressive) is SUPPORTED since r12 — but a progressive
    # frame whose scan still carries baseline Ss..Se=0..63 is malformed
    p[i + 1] = 0xC2
    with pytest.raises(JpegUnsupported, match="Se != 0"):
        decode_jpeg(bytes(p))
    assert not is_jpeg(b"GIF89a")
    assert is_jpeg(_gray(img))


def test_jpeg_routing_in_decode_image_batch():
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm import multimodal as mm

    img = np.repeat(np.repeat(np.array([[9, 200]], dtype=np.uint8), 8, 0), 8, 1)
    jp = encode_jpeg(16, 8, 1, img.tobytes())
    png = mm.encode_png(2, 2, 1, bytes(4))
    decoded, mimes = mm._decode_image_batch([jp, png, b"nope", None])
    assert mimes[0] == "image/jpeg" and decoded[0][0:3] == (16, 8, 1)
    assert np.frombuffer(decoded[0][3], np.uint8).sum() == int(img.sum())
    assert mimes[1] == "image/png" and decoded[1] is not None
    assert decoded[2] is None and decoded[3] is None


def test_jpeg_payload_query_features(spark):
    # the oracle fixture end-to-end in Spark: channels/pixel_sum flip
    # on the color docs, sums replay from the text
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
        extract_features,
        text_to_jpeg_payload,
    )

    df = spark.createDataFrame(
        [(0, "abcd"), (1, "Q"), (2, None), (3, "zzzz~")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in extract_features(text_to_jpeg_payload(df, "text")).collect()
    }
    def expect(text):
        s = ("" if text is None else text)[:4].ljust(4)
        return 64 * sum(ord(ch) % 256 for ch in s)
    for i, t in ((0, "abcd"), (1, "Q"), (2, None), (3, "zzzz~")):
        mult = 3 if i % 3 == 0 else 1
        assert rows[i]["channels"] == (3 if i % 3 == 0 else 1)
        assert rows[i]["pixel_sum"] == mult * expect(t)
        assert (rows[i]["width"], rows[i]["height"]) == (16, 16)


# ------------------------------------------------ progressive JPEG
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.jpeg import (  # noqa: E402
    encode_jpeg_progressive,
)


def test_jpeg_progressive_equals_baseline_pixel_exact():
    """The decisive equivalence: progressive transmits the SAME
    quantized coefficients as baseline, so decode must be IDENTICAL
    pixels — any entropy-layer bug in either coding mode (EOB runs,
    refinement bits, successive approximation, scan interleave)
    breaks this, independent of the encoders sharing a front half."""
    rng = np.random.default_rng(9)
    cases = (((17, 13), 1, "444"), ((24, 40), 3, "444"), ((23, 39), 3, "420"),
             ((16, 16), 3, "422"), ((32, 48), 3, "440"))
    for shape, ch, sub in cases:
        px = rng.integers(0, 256, shape + ((3,) if ch == 3 else ()), dtype=np.uint8)
        w, h = shape[1], shape[0]
        base = decode_jpeg(encode_jpeg(w, h, ch, px.tobytes(), subsampling=sub))
        for spectral_only in (True, False):
            for ri in (0, 3):
                prog = decode_jpeg(
                    encode_jpeg_progressive(
                        w, h, ch, px.tobytes(), subsampling=sub,
                        spectral_only=spectral_only, restart_interval=ri,
                    )
                )
                assert prog == base, (shape, ch, sub, spectral_only, ri)


def test_jpeg_progressive_long_eob_runs_smooth_content():
    # smooth content + a real quant table -> most blocks are all-zero
    # in the AC bands, driving multi-block EOB runs (EOBn, n > 0) and
    # the run-buffered correction bits through both encoder and decoder
    qt = np.array(
        [16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
         14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
         18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
         49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99])
    gx, gy = np.meshgrid(np.arange(128), np.arange(96))
    sm3 = np.repeat((((gx + gy) / 2).astype(np.uint8))[:, :, None], 3, 2)
    base = decode_jpeg(encode_jpeg(128, 96, 3, sm3.tobytes(), subsampling="420", qtable=qt))
    for spectral_only in (True, False):
        prog = decode_jpeg(
            encode_jpeg_progressive(
                128, 96, 3, sm3.tobytes(), subsampling="420", qtable=qt,
                spectral_only=spectral_only,
            )
        )
        assert prog == base


def test_jpeg_progressive_dc_only_fixture_exact():
    # the oracle property survives the progressive path too
    vals = np.array([[65, 200], [3, 128]], dtype=np.uint8)
    img = np.repeat(np.repeat(vals, 8, 0), 8, 1)
    w, h, c, px = decode_jpeg(encode_jpeg_progressive(16, 16, 1, img.tobytes()))
    assert np.frombuffer(px, np.uint8).reshape(16, 16).tolist() == img.tolist()
    rgb = np.repeat(img[:, :, None], 3, 2)
    w, h, c, px = decode_jpeg(
        encode_jpeg_progressive(16, 16, 3, rgb.tobytes(), subsampling="420")
    )
    assert c == 3
    assert np.frombuffer(px, np.uint8).reshape(16, 16, 3).tolist() == rgb.tolist()


def test_jpeg_progressive_scan_validation_and_hostile_fuzz():
    rng = random.Random(34)
    img = np.arange(256, dtype=np.uint8).reshape(16, 16)
    good = encode_jpeg_progressive(16, 16, 1, img.tobytes())
    # truncation mid-scan raises; truncation at a SCAN BOUNDARY is the
    # format's defining feature — a prefix of a progressive file IS a
    # coarser image — so a successful decode must only keep geometry
    base = decode_jpeg(good)
    for cut in range(4, len(good), 7):
        try:
            out = decode_jpeg(good[:cut])
            assert out[:3] == base[:3]
        except JpegUnsupported:
            pass
    # bit flips never raise foreign exceptions
    for i in (2, 30, 100, 200, len(good) // 2, len(good) - 20):
        mut = good[:i] + bytes([good[i] ^ 0xFF]) + good[i + 1 :]
        try:
            decode_jpeg(mut)
        except JpegUnsupported:
            pass
    # malformed scan parameters are refused
    p = bytearray(good)
    i = p.index(b"\xff\xda")
    # first scan is DC (Ss=0,Se=0): corrupt Se -> "DC scan with Se != 0"
    (ln,) = struct.unpack_from(">H", p, i + 2)
    p[i + 2 + ln - 2] = 7  # Se byte of the Ss/Se/AhAl triple
    with pytest.raises(JpegUnsupported, match="Se != 0"):
        decode_jpeg(bytes(p))


def test_jpeg_progressive_routing_and_payload_mix(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm import multimodal as mm

    img = np.repeat(np.repeat(np.array([[9, 200]], dtype=np.uint8), 8, 0), 8, 1)
    prog = encode_jpeg_progressive(16, 8, 1, img.tobytes())
    decoded, mimes = mm._decode_image_batch([prog])
    assert mimes[0] == "image/jpeg"
    assert decoded[0][:3] == (16, 8, 1)
    assert np.frombuffer(decoded[0][3], np.uint8).sum() == int(img.sum())

    # the oracle fixture mix: ids 0,3,6,9 color; 0,5,10 progressive
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
        extract_features,
        text_to_jpeg_payload,
    )

    df = spark.createDataFrame(
        [(i, "wxyz") for i in range(12)], "doc_id long, text string"
    )
    feats = text_to_jpeg_payload(df, "text", progressive_every=5)
    rows = {r["doc_id"]: r for r in extract_features(feats).collect()}
    want = 64 * sum(ord(ch) % 256 for ch in "wxyz")
    for i in range(12):
        mult = 3 if i % 3 == 0 else 1
        assert rows[i]["pixel_sum"] == mult * want, i
        assert rows[i]["channels"] == (3 if i % 3 == 0 else 1)


# ------------------------------------------------------- GIF codec
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.gif import (  # noqa: E402
    GifUnsupported,
    decode_gif,
    encode_gif,
    is_gif,
)


def test_gif_gray_identity_roundtrip_lossless():
    rng = np.random.default_rng(5)
    g = rng.integers(0, 256, (17, 13), dtype=np.uint8)
    for interlace in (False, True):
        w, h, c, px = decode_gif(encode_gif(13, 17, 1, g.tobytes(), interlace=interlace))
        assert (w, h, c) == (13, 17, 1)
        assert np.frombuffer(px, np.uint8).reshape(17, 13).tolist() == g.tolist()


def test_gif_color_palette_and_transparency():
    rng = np.random.default_rng(6)
    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [10, 20, 30]], dtype=np.uint8)
    rgb = pal[rng.integers(0, 4, (9, 11))]
    w, h, c, px = decode_gif(encode_gif(11, 9, 3, rgb.tobytes()))
    assert c == 3
    assert np.frombuffer(px, np.uint8).reshape(9, 11, 3).tolist() == rgb.tolist()
    # >256 distinct colors cannot be represented without quantizing —
    # the encoder refuses rather than silently lossy-quantize
    noise = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    with pytest.raises(GifUnsupported, match="256"):
        encode_gif(32, 32, 3, noise.tobytes())
    # GIF89a transparency -> RGBA with exact alpha mask
    g = rng.integers(0, 256, (7, 5), dtype=np.uint8)
    t = int(g[0, 0])
    w, h, c, px = decode_gif(encode_gif(5, 7, 1, g.tobytes(), transparent=t))
    out = np.frombuffer(px, np.uint8).reshape(7, 5, 4)
    assert c == 4
    assert (out[:, :, 0] == g).all()
    assert (out[:, :, 3] == np.where(g == t, 0, 255)).all()


def test_gif_lzw_dictionary_machinery():
    # KwKwK (code == next_code) arises immediately on constant runs
    k = np.zeros(300, dtype=np.uint8)
    assert decode_gif(encode_gif(300, 1, 1, k.tobytes()))[3] == k.tobytes()
    # 64k noise pixels force width growth to 12 bits + dictionary
    # clears mid-stream
    rng = np.random.default_rng(7)
    big = rng.integers(0, 256, (256, 256), dtype=np.uint8)
    assert decode_gif(encode_gif(256, 256, 1, big.tobytes()))[3] == big.tobytes()


def test_gif_hostile_payloads_raise_gifunsupported_only():
    rnd = random.Random(2)
    rng = np.random.default_rng(5)
    g = rng.integers(0, 256, (17, 13), dtype=np.uint8)
    good = encode_gif(13, 17, 1, g.tobytes())
    hostile = [b"", b"GIF", b"GIF89a", good[:12], good[:20], good[: len(good) - 4]]
    hostile += [b"GIF89a" + bytes(rnd.randrange(256) for _ in range(40)) for _ in range(8)]
    for p in hostile:
        with pytest.raises(GifUnsupported):
            decode_gif(p)
    for _ in range(300):
        b = bytes(x if rnd.random() > 0.12 else rnd.randrange(256) for x in good)
        try:
            decode_gif(b)
        except GifUnsupported:
            pass  # the only allowed failure mode


def test_gif_amplification_guard_and_canvas_bounds():
    rng = np.random.default_rng(5)
    good = bytearray(encode_gif(13, 17, 1, rng.integers(0, 256, 221, dtype=np.uint8).tobytes()))
    struct.pack_into("<HH", good, 6, 30000, 30000)  # huge canvas
    with pytest.raises(GifUnsupported, match="cap"):
        decode_gif(bytes(good))
    # frame escaping the canvas is refused; the image descriptor sits
    # at a FIXED offset for this encoder (header 13 + 768 GCT) — a
    # byte search would hit value 0x2C inside the identity palette
    good = bytearray(encode_gif(13, 17, 1, rng.integers(0, 256, 221, dtype=np.uint8).tobytes()))
    i = 13 + 768
    assert good[i] == 0x2C
    struct.pack_into("<HH", good, i + 1, 10, 10)  # left/top offset
    with pytest.raises(GifUnsupported, match="canvas"):
        decode_gif(bytes(good))


def test_gif_routing_and_query_fixture(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm import multimodal as mm
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
        extract_features,
        text_to_gif_payload,
    )

    g = np.arange(64, dtype=np.uint8).reshape(8, 8)
    payload = encode_gif(8, 8, 1, g.tobytes())
    decoded, mimes = mm._decode_image_batch([payload, b"junk"])
    assert mimes[0] == "image/gif" and decoded[0][:3] == (8, 8, 1)
    assert decoded[1] is None

    df = spark.createDataFrame(
        [(0, "abc"), (1, None), (3, "q" * 100)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in extract_features(text_to_gif_payload(df, "text")).collect()}
    for i, t in ((0, "abc"), (1, None), (3, "q" * 100)):
        s = ("" if t is None else t)[:64].ljust(64)
        assert rows[i]["pixel_sum"] == sum(ord(ch) % 256 for ch in s)
        assert (rows[i]["width"], rows[i]["height"], rows[i]["channels"]) == (8, 8, 1)


def test_jpeg_non_interleaved_sequential_scans_equal_interleaved():
    """The OTHER legal sequential layout (T.81 non-interleaved: one
    scan per component, MCU = 1 block over the component's true block
    grid — some scanners emit this) must decode identically to the
    single interleaved scan: same quantized coefficients, different
    scan structure."""
    rng = np.random.default_rng(11)
    for shape, sub in (((24, 40), "444"), ((23, 39), "420"), ((16, 16), "422")):
        rgb = rng.integers(0, 256, shape + (3,), dtype=np.uint8)
        w, h = shape[1], shape[0]
        base = decode_jpeg(encode_jpeg(w, h, 3, rgb.tobytes(), subsampling=sub))
        ni_payload = encode_jpeg(
            w, h, 3, rgb.tobytes(), subsampling=sub, non_interleaved=True
        )
        assert ni_payload.count(b"\xff\xda") >= 3  # really multi-scan
        assert decode_jpeg(ni_payload) == base


def test_gif_animation_demux_compositing_semantics():
    """decode_gif_frames composites like a viewer: full frames, a
    sub-rect frame, disposal 2 (restore rect to background), and a
    transparency hole that keeps the PRIOR canvas content."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.gif import (
        decode_gif_frames,
        encode_gif_animation,
    )

    f0 = np.full((4, 6), 10, dtype=np.uint8)
    f1 = np.full((2, 2), 200, dtype=np.uint8)
    f2 = np.full((4, 6), 30, dtype=np.uint8)
    f2[0, 0] = 99
    p = encode_gif_animation(
        6, 4, [f0, f1, f2],
        disposals=[0, 2, 0],
        transparents=[None, None, 99],
        offsets=[(0, 0), (2, 1), (0, 0)],
    )
    w, h, frames = decode_gif_frames(p)
    assert (w, h, len(frames)) == (6, 4, 3)
    a = [np.frombuffer(f, np.uint8).reshape(4, 6, 3) for f in frames]
    assert (a[0] == 10).all()
    assert (a[1][1:3, 2:4] == 200).all() and (a[1][0] == 10).all()
    # after disposal 2 the rect went back to background, then frame 2
    # painted 30 everywhere except its transparent hole at (0,0),
    # which shows frame 0's 10
    assert (a[2][1, 1] == 30).all() and (a[2][0, 0] == 10).all()
    # disposal 3: restore-to-previous
    p3 = encode_gif_animation(
        4, 2, [np.full((2, 4), 5, dtype=np.uint8),
               np.full((2, 4), 50, dtype=np.uint8),
               np.zeros((1, 1), dtype=np.uint8) + 77],
        disposals=[0, 3, 0], offsets=[(0, 0), (0, 0), (0, 0)],
    )
    _, _, fr3 = decode_gif_frames(p3)
    b = [np.frombuffer(f, np.uint8).reshape(2, 4, 3) for f in fr3]
    assert (b[1] == 50).all()
    # frame 2 painted its 1x1 over the RESTORED frame-1 canvas (5s)
    assert (b[2][0, 0] == 77).all() and (b[2][1, 1] == 5).all()


def test_sample_frames_demuxes_real_gif_animations(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.gif import (
        encode_gif_animation,
    )
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
        sample_frames,
    )

    anim = encode_gif_animation(
        2, 2, [np.full((2, 2), v, dtype=np.uint8) for v in (1, 2, 3, 4, 5)]
    )
    blob = bytes(range(64))  # non-GIF payload: byte-splitter stand-in
    df = spark.createDataFrame(
        [(1, bytearray(anim)), (2, bytearray(blob))],
        "doc_id long, payload binary",
    )
    rows = sample_frames(df, frame_bytes=16, every_n=2).collect()
    gif_rows = sorted(
        (r["frame_no"], bytes(r["frame"])) for r in rows if r["doc_id"] == 1
    )
    # 5 frames sampled every 2nd -> frames 0, 2, 4; each a 2x2 RGB canvas
    assert [n for n, _ in gif_rows] == [0, 2, 4]
    for (n, f), v in zip(gif_rows, (1, 3, 5)):
        assert f == bytes([v] * 12)
    blob_rows = [r for r in rows if r["doc_id"] == 2]
    assert len(blob_rows) == 2 and all(len(r["frame"]) == 16 for r in blob_rows)


def test_jpeg_two_quant_tables_real_world_layout():
    """Every real color JPEG carries SEPARATE luma/chroma DQTs (ids
    0/1, chroma components Tq=1): the decoder's per-component dequant
    must route each table correctly, asserted via progressive/baseline
    equivalence (a swap or misroute breaks the pixel identity), and
    the default single-table stream stays byte-compatible."""
    rng = np.random.default_rng(13)
    qt_l = np.array(
        [16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
         14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
         18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
         49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99])
    qt_c = np.array(
        [17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
         24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99]
        + [99] * 32)
    rgb = rng.integers(0, 256, (24, 40, 3), dtype=np.uint8)
    p2 = encode_jpeg(40, 24, 3, rgb.tobytes(), subsampling="420",
                     qtable=qt_l, qtable_chroma=qt_c)
    assert p2.count(b"\xff\xdb") == 2
    base = decode_jpeg(p2)
    assert base[:3] == (40, 24, 3)
    pp = encode_jpeg_progressive(40, 24, 3, rgb.tobytes(), subsampling="420",
                                 qtable=qt_l, qtable_chroma=qt_c)
    assert decode_jpeg(pp) == base
    # default single-table stream unchanged (frozen-oracle compat)
    assert encode_jpeg(16, 16, 1, bytes(range(256))).count(b"\xff\xdb") == 1


def test_jpeg_lut_cache_stays_bounded_under_hostile_table_spam():
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm import jpeg as J

    # payloads with ever-different DHT value tables would grow the
    # cache without the FIFO bound; spam unique tables directly
    for i in range(300):
        bits = bytes([0, 2] + [0] * 14)
        vals = bytes([i % 256, (i * 7 + 1) % 256])
        try:
            J._build_lut(bits, vals, i % 2 == 0)
        except J.JpegUnsupported:
            pass
    assert len(J._LUT_CACHE) <= J._LUT_CACHE_MAX


def test_resize_images_reencodes_jpeg_and_gif_in_source_format(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
        resize_images,
    )

    img = np.repeat(np.repeat(np.arange(4, dtype=np.uint8).reshape(2, 2) * 60, 8, 0), 8, 1)
    jp = encode_jpeg(16, 16, 1, img.tobytes())
    gf = encode_gif(16, 16, 1, img.tobytes())
    df = spark.createDataFrame(
        [(1, bytearray(jp), {"mime": "image/jpeg"}),
         (2, bytearray(gf), {"mime": "image/gif"})],
        "doc_id long, payload binary, meta map<string,string>",
    )
    rows = {r["doc_id"]: r for r in resize_images(df, 8, 8).collect()}
    assert rows[1]["meta"]["mime"] == "image/jpeg"
    assert is_jpeg(bytes(rows[1]["payload"]))
    w, h, c, px = decode_jpeg(bytes(rows[1]["payload"]))
    assert (w, h, c) == (8, 8, 1)
    assert rows[2]["meta"]["mime"] == "image/gif"
    w, h, c, px = decode_gif(bytes(rows[2]["payload"]))
    assert (w, h, c) == (8, 8, 1)
    # GIF is lossless: the nearest-resampled pixels survive exactly
    assert np.frombuffer(px, np.uint8).reshape(8, 8).tolist() == img[::2, ::2].tolist()


# ------------------------------------------------------ TIFF LZW
def test_tiff_lzw_and_predictor_roundtrip_exact():
    """Compression=5 (the third real-world TIFF compression): MSB-first
    LZW with the EarlyChange width bump, optional horizontal Predictor.
    Every (compression, predictor) combination must decode to the same
    pixels as the uncompressed form."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.tiff import (
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.default_rng(4)
    for shape, ch in (((17, 13), 1), ((9, 21), 3), ((6, 6), 4)):
        px = rng.integers(
            0, 256, shape + ((ch,) if ch > 1 else ()), dtype=np.uint8
        )
        w, h = shape[1], shape[0]
        ref = decode_tiff(encode_tiff(w, h, ch, px.tobytes()))
        for comp in (1, 5):
            for pred in (1, 2):
                assert decode_tiff(
                    encode_tiff(w, h, ch, px.tobytes(), compression=comp, predictor=pred)
                ) == ref, (shape, ch, comp, pred)
    # the predictor is not decoration: on gradients (its target case)
    # LZW+predictor compresses ~8x better than LZW alone
    gx, gy = np.meshgrid(np.arange(200), np.arange(100))
    sm = ((gx + gy) % 256).astype(np.uint8).tobytes()
    plain = len(encode_tiff(200, 100, 1, sm, compression=5))
    pred = len(encode_tiff(200, 100, 1, sm, compression=5, predictor=2))
    assert pred * 4 < plain


def test_tiff_lzw_width_growth_clears_and_hostile_streams():
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm._codec import (
        lzw_decode,
        lzw_encode,
    )
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.tiff import (
        TiffUnsupported,
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.default_rng(3)
    # 300k incompressible bytes force all code widths + multiple clears
    # (TIFF's variant: MSB-first, early change)
    raw = bytes(rng.integers(0, 256, 300_000, dtype=np.uint8))
    comp = lzw_encode(raw, 8, True, 1)
    assert lzw_decode(comp, 8, len(raw), True, 1, TiffUnsupported) == raw
    # constant runs drive the KwKwK case
    runs = bytes([7]) * 5000
    comp2 = lzw_encode(runs, 8, True, 1)
    assert lzw_decode(comp2, 8, len(runs), True, 1, TiffUnsupported) == runs
    # hostile: corrupt LZW strips raise TiffUnsupported only, and the
    # output stays bounded at the declared geometry
    rnd = random.Random(9)
    good = encode_tiff(13, 17, 1, rng.integers(0, 256, 221, dtype=np.uint8).tobytes(),
                       compression=5, predictor=2)
    for _ in range(300):
        b = bytes(x if rnd.random() > 0.12 else rnd.randrange(256) for x in good)
        try:
            out = decode_tiff(b)
            assert len(out[3]) == out[0] * out[1] * out[2]
        except TiffUnsupported:
            pass  # the only allowed failure mode
