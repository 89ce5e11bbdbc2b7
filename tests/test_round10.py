"""Round-10 regression tests: the VERDICT r9 #5 eager-count guard in
``embed_neardup_pairs``, and the ADVICE r9 score='arrow'/block=False
validation."""

import warnings

import pytest
from pyspark.sql import functions as F


def _synth_emb(spark, n, dim=8):
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: (
            F.conv(
                F.substring(F.md5(F.concat(F.col("id"), F.lit(":"), i)), 1, 8),
                16,
                10,
            ).cast("double")
            / F.lit(2**31)
            - F.lit(1.0)
        ).cast("float"),
    )
    return spark.range(n).select(F.col("id").alias("vec_id"), vec.alias("embedding"))


def test_embed_neardup_default_sizing_runs_zero_eager_jobs(spark):
    """planes=None + approx_count=None on a corpus-sized input must
    auto-size from Catalyst plan stats with ZERO eager jobs and no
    warning (VERDICT r12 #3 — this flips the r10 expectation, which
    asserted the old eager-count default warned). The instance shadow
    trips if any code path calls df.count()."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.functions.sql import (
        plan_size_bytes,
    )
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
        embed_neardup_pairs,
        srp_planes_for,
    )

    big = _synth_emb(spark, 100_000_000)

    def _boom():
        raise AssertionError("default sizing must not run df.count()")

    big.count = _boom
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = embed_neardup_pairs(
            big, threshold=0.9, dim=8, approx_count=None, planes=None
        )
    assert out is not None
    # the plan-stats path sized planes in the right ballpark: within
    # the documented 1-plane-per-2x tolerance band of the true count
    est = plan_size_bytes(big)
    assert est is not None
    n_est = max(1, est // (8 * 8 + 16))
    assert abs(srp_planes_for(n_est) - srp_planes_for(100_000_000)) <= 4


def test_embed_neardup_eager_count_silent_with_escape_hatches(spark):
    """planes= or approx_count= skips the eager count — and must also
    skip the warning; a small (oracle-scale) frame stays silent too."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
        embed_neardup_pairs,
    )

    big = _synth_emb(spark, 100_000_000)
    small = _synth_emb(spark, 200)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        embed_neardup_pairs(big, threshold=0.9, dim=8, planes=6)
        embed_neardup_pairs(big, threshold=0.9, dim=8, approx_count=100_000_000)
        embed_neardup_pairs(small, threshold=0.9, dim=8)  # under the floor


def test_embed_neardup_arrow_requires_block(spark):
    """score='arrow' is bucket-local BLAS; with block=False there are no
    buckets and the old code silently fell through to the expression
    scorer (ADVICE r9). It must raise instead."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
        embed_neardup_pairs,
    )

    emb = _synth_emb(spark, 50)
    with pytest.raises(ValueError, match="block=True"):
        embed_neardup_pairs(emb, threshold=0.9, block=False, score="arrow")


# ---------------------------------------------------------------------
# BMP codec (VERDICT r9 #8): the second REAL image format
# ---------------------------------------------------------------------

import random
import struct


def test_bmp_roundtrip_all_channel_layouts():
    """encode→decode is identity for gray/RGB/RGBA at widths that
    exercise the 4-byte row padding (odd widths pad; width 4k doesn't)."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bmp import (
        decode_bmp,
        encode_bmp,
    )

    for w, h, c in [(8, 8, 1), (5, 3, 1), (7, 2, 3), (3, 3, 4), (1, 1, 1), (13, 1, 3), (4, 4, 3)]:
        px = bytes((i * 37 + 11) % 256 for i in range(w * h * c))
        assert decode_bmp(encode_bmp(w, h, c, px)) == (w, h, c, px)


def test_bmp_top_down_and_palette_expand():
    """Negative height = top-down row order; a non-identity palette
    expands to RGB while the grayscale identity palette stays gray."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bmp import (
        decode_bmp,
        encode_bmp,
    )

    w, h, c = 4, 2, 3
    px = bytes(range(w * h * c))
    enc = bytearray(encode_bmp(w, h, c, px))
    pix_off = struct.unpack_from("<I", enc, 10)[0]
    stride = (w * 3 + 3) & ~3
    rows = [bytes(enc[pix_off + i * stride : pix_off + (i + 1) * stride]) for i in range(h)]
    enc2 = bytearray(bytes(enc[:pix_off]) + b"".join(rows[::-1]))
    struct.pack_into("<i", enc2, 22, -h)
    assert decode_bmp(bytes(enc2)) == (w, h, c, px)

    e = bytearray(encode_bmp(2, 2, 1, bytes([0, 1, 2, 3])))
    struct.pack_into("<BBBB", e, 14 + 40 + 4, 255, 0, 0, 0)  # entry 1 = blue
    dw, dh, dc, dp = decode_bmp(bytes(e))
    assert dc == 3 and dp[3:6] == bytes([0, 0, 255])


def test_bmp_decode_hostile_payloads_raise_bmpunsupported_only():
    """Workers must see BmpUnsupported (→ digest fallback), never a bare
    struct/numpy exception: truncations, mutations, RLE/bitfield
    compression, 16-bpp, dims past the payload, random garbage. BI_RGB
    has no compression, so the dim check IS the amplification guard."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bmp import (
        BmpUnsupported,
        decode_bmp,
        encode_bmp,
    )

    good = encode_bmp(3, 3, 1, bytes(range(9)))
    hostile = [b"", b"BM", b"XX" + bytes(100)]
    hostile += [good[:n] for n in (2, 14, 30, 54, len(good) - 5)]
    for i in (2, 10, 14, 18, 22, 26, 28, 30, 46):
        hostile.append(good[:i] + bytes([good[i] ^ 0xFF]) + good[i + 1 :])
    for field, off in [("compression=1", 30), ("bpp=16", 28)]:
        e = bytearray(good)
        struct.pack_into("<H", e, off, 1 if off == 30 else 16)
        hostile.append(bytes(e))
    e = bytearray(good)
    struct.pack_into("<i", e, 18, 1_000_000)  # width >> payload
    hostile.append(bytes(e))
    rng = random.Random(88)
    hostile += [b"BM" + bytes(rng.randrange(256) for _ in range(62)) for _ in range(5)]

    for p in hostile:
        try:
            w, h, c, pix = decode_bmp(p)
            assert len(pix) == w * h * c  # decoded despite mutation: fine
        except BmpUnsupported:
            pass  # the ONLY acceptable exception


def test_extract_features_routes_bmp_pixels(spark):
    """extract_features decodes BMP payloads for real (after the PNG
    codec declines), keeps PNG behavior, and falls back to digest-only
    features for non-image bytes."""
    from pyspark.sql import Row as R

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bmp import encode_bmp
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
        extract_features,
    )
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.png import encode_png

    bmp = encode_bmp(2, 2, 1, bytes([1, 2, 3, 4]))
    png = encode_png(2, 2, 1, bytes([5, 6, 7, 8]))
    df = spark.createDataFrame(
        [
            R(doc_id=0, payload=bytearray(bmp)),
            R(doc_id=1, payload=bytearray(png)),
            R(doc_id=2, payload=bytearray(b"neither format")),
        ]
    )
    out = {r["doc_id"]: r for r in extract_features(df).collect()}
    assert (out[0]["width"], out[0]["height"], out[0]["channels"]) == (2, 2, 1)
    assert out[0]["pixel_sum"] == 10
    assert out[1]["pixel_sum"] == 26
    assert out[2]["pixel_sum"] is None and out[2]["content_md5"] is not None


def test_text_to_bmp_payload_matches_png_twin(spark):
    """The BMP fixture builder must produce the SAME pixels as the PNG
    twin for the same text — that identity is what lets the oracle SQL
    be shared between the two driver queries."""
    from pyspark.sql import Row as R

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
        extract_features,
        text_to_bmp_payload,
        text_to_png_payload,
    )

    df = spark.createDataFrame(
        [R(doc_id=0, text="hello bmp world"), R(doc_id=1, text=None), R(doc_id=2, text="Ж" * 100)]
    )
    cols = ["doc_id", "width", "height", "channels", "pixel_sum"]
    a = sorted(
        extract_features(text_to_bmp_payload(df, "text")).select(*cols).collect()
    )
    b = sorted(
        extract_features(text_to_png_payload(df, "text")).select(*cols).collect()
    )
    assert a == b


def test_resize_images_real_bmp_path(spark):
    """resize_images round-trips BMP payloads in the SOURCE format:
    decode → nearest resample → re-encode as BMP with image/bmp mime,
    while PNG inputs stay PNG and junk keeps the raw-stub path."""
    from pyspark.sql import Row as R

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bmp import (
        decode_bmp,
        encode_bmp,
    )
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
        resize_images,
    )
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.png import (
        decode_png,
        encode_png,
        resize_nearest,
    )

    src = bytes([10, 20, 30, 40])  # 2x2 gray
    df = spark.createDataFrame(
        [
            R(doc_id=0, payload=bytearray(encode_bmp(2, 2, 1, src))),
            R(doc_id=1, payload=bytearray(encode_png(2, 2, 1, src))),
            R(doc_id=2, payload=bytearray(b"junk")),
        ]
    )
    out = {r["doc_id"]: r for r in resize_images(df, 4, 4).collect()}
    want = resize_nearest(2, 2, 1, src, 4, 4)
    assert out[0]["meta"]["mime"] == "image/bmp"
    assert decode_bmp(bytes(out[0]["payload"])) == (4, 4, 1, want)
    assert out[1]["meta"]["mime"] == "image/png"
    assert decode_png(bytes(out[1]["payload"])) == (4, 4, 1, want)
    assert out[2]["meta"]["mime"] == "image/raw-stub"


# ---------------------------------------------------------------------
# TIFF codec: the third REAL image format (VERDICT r9 #8 named both
# BMP and uncompressed TIFF; both now decode for real)
# ---------------------------------------------------------------------


def test_tiff_roundtrip_all_channel_layouts():
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.tiff import (
        decode_tiff,
        encode_tiff,
    )

    for w, h, c in [(8, 8, 1), (5, 3, 1), (7, 2, 3), (3, 3, 4), (1, 1, 1), (13, 1, 3)]:
        px = bytes((i * 37 + 11) % 256 for i in range(w * h * c))
        assert decode_tiff(encode_tiff(w, h, c, px)) == (w, h, c, px)


def test_tiff_big_endian_whiteiszero_multistrip():
    """Hand-built 'MM' (big-endian) file with PhotometricInterpretation
    0 (WhiteIsZero) split across two strips: the decoder must honor the
    byte order, invert the samples, and reassemble the strips."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.tiff import (
        decode_tiff,
    )

    w, h = 4, 4
    px = bytes(range(16))
    body = bytes(255 - b for b in px)
    rows1 = h // 2
    s1, s2 = body[: rows1 * w], body[rows1 * w :]
    ifd_off = 8 + len(body)
    tags = [
        (256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 8), (259, 3, 1, 1),
        (262, 3, 1, 0), (277, 3, 1, 1), (278, 4, 1, rows1),
    ]
    arr_off = ifd_off + 2 + 12 * (len(tags) + 2) + 4
    tags += [(273, 4, 2, arr_off), (279, 4, 2, arr_off + 8)]
    tags.sort()
    out = bytearray(b"MM\x00*" + struct.pack(">I", ifd_off)) + body
    out += struct.pack(">H", len(tags))
    for tag, ft, cnt, val in tags:
        if ft == 3 and cnt == 1:
            out += struct.pack(">HHIHH", tag, ft, cnt, val, 0)
        else:
            out += struct.pack(">HHII", tag, ft, cnt, val)
    out += struct.pack(">I", 0)
    out += struct.pack(">II", 8, 8 + len(s1))
    out += struct.pack(">II", len(s1), len(s2))
    assert decode_tiff(bytes(out)) == (w, h, 1, px)


def test_tiff_decode_hostile_payloads_raise_tiffunsupported_only():
    """Workers must see TiffUnsupported (→ digest fallback), never a
    bare struct/numpy exception: truncations, mutations, compressed or
    tiled headers, strip tables past the payload, random garbage."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.tiff import (
        TiffUnsupported,
        decode_tiff,
        encode_tiff,
    )

    good = encode_tiff(3, 3, 1, bytes(range(9)))
    hostile = [b"", b"II", b"II*\x00", b"II*\x00\xff\xff\xff\xff"]
    hostile += [good[:n] for n in (6, 12, 20, len(good) - 5)]
    for i in range(4, min(len(good), 60)):
        hostile.append(good[:i] + bytes([good[i] ^ 0xFF]) + good[i + 1 :])
    rng = random.Random(9)
    hostile += [b"II*\x00" + bytes(rng.randrange(256) for _ in range(40)) for _ in range(8)]
    hostile += [b"MM\x00*" + bytes(rng.randrange(256) for _ in range(40)) for _ in range(8)]

    for p in hostile:
        try:
            w, h, c, pix = decode_tiff(p)
            assert len(pix) == w * h * c  # decoded despite mutation: fine
        except TiffUnsupported:
            pass  # the ONLY acceptable exception


def test_extract_features_routes_tiff_and_resize_roundtrips(spark):
    """The shared decode routing handles all three formats in ONE batch,
    and resize_images re-encodes each in its source format."""
    from pyspark.sql import Row as R

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bmp import encode_bmp
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
        extract_features,
        resize_images,
    )
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.png import encode_png
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.tiff import (
        decode_tiff,
        encode_tiff,
    )

    src = bytes([1, 2, 3, 4])
    df = spark.createDataFrame(
        [
            R(doc_id=0, payload=bytearray(encode_tiff(2, 2, 1, src))),
            R(doc_id=1, payload=bytearray(encode_png(2, 2, 1, src))),
            R(doc_id=2, payload=bytearray(encode_bmp(2, 2, 1, src))),
            R(doc_id=3, payload=bytearray(b"junk")),
        ]
    )
    feats = {r["doc_id"]: r for r in extract_features(df).collect()}
    for i in (0, 1, 2):
        assert (feats[i]["width"], feats[i]["height"], feats[i]["pixel_sum"]) == (2, 2, 10)
    assert feats[3]["pixel_sum"] is None

    out = {r["doc_id"]: r for r in resize_images(df, 4, 4).collect()}
    assert out[0]["meta"]["mime"] == "image/tiff"
    w, h, c, px = decode_tiff(bytes(out[0]["payload"]))
    assert (w, h, c) == (4, 4, 1)
    assert out[1]["meta"]["mime"] == "image/png"
    assert out[2]["meta"]["mime"] == "image/bmp"
    assert out[3]["meta"]["mime"] == "image/raw-stub"


def test_text_to_tiff_payload_matches_png_twin(spark):
    from pyspark.sql import Row as R

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
        extract_features,
        text_to_png_payload,
        text_to_tiff_payload,
    )

    df = spark.createDataFrame(
        [R(doc_id=0, text="hello tiff world"), R(doc_id=1, text=None), R(doc_id=2, text="Ж" * 100)]
    )
    cols = ["doc_id", "width", "height", "channels", "pixel_sum"]
    a = sorted(extract_features(text_to_tiff_payload(df, "text")).select(*cols).collect())
    b = sorted(extract_features(text_to_png_payload(df, "text")).select(*cols).collect())
    assert a == b
