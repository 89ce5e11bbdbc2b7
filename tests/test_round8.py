"""Round-8 additions: numpy PNG unfilter parity, NULL-payload feature
semantics, engine-side sentinel epochs, semdedup scale guard."""

from __future__ import annotations

import random
import struct
import zlib

import pytest


def _hand_filtered_png(width, height, channels, pixels, filter_seq):
    """Independently filter an image (straight from the PNG spec's
    per-byte definitions) so decode parity is checked against a second
    implementation, not the codec's own encoder."""
    stride = width * channels
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        f = filter_seq[y % len(filter_seq)]
        line = pixels[y * stride : (y + 1) * stride]
        raw.append(f)
        for x in range(stride):
            a = line[x - channels] if x >= channels else 0
            b = prev[x]
            c = prev[x - channels] if x >= channels else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            raw.append((line[x] - pred) & 0xFF)
        prev = line

    def chunk(t, body):
        return (
            struct.pack(">I", len(body))
            + t
            + body
            + struct.pack(">I", zlib.crc32(t + body) & 0xFFFFFFFF)
        )

    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("channels", [1, 3, 4])
def test_png_numpy_unfilter_parity_cycling_filters(channels):
    """64x64 random image, rows cycling all five filters: the numpy
    unfilter (vectorized None/Up/Sub + scanline-loop Average/Paeth)
    must reproduce the source pixels byte-exactly."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.png import decode_png

    rng = random.Random(81)
    w = h = 64
    pixels = bytes(rng.randrange(256) for _ in range(w * h * channels))
    png = _hand_filtered_png(w, h, channels, pixels, [0, 1, 2, 3, 4])
    dw, dh, dc, out = decode_png(png)
    assert (dw, dh, dc) == (w, h, channels)
    assert out == pixels


def test_png_width_one_paeth_and_average():
    """stride == channels edge: no left neighbor ever exists."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.png import decode_png

    rng = random.Random(82)
    pixels = bytes(rng.randrange(256) for _ in range(1 * 16 * 3))
    png = _hand_filtered_png(1, 16, 3, pixels, [3, 4])
    assert decode_png(png)[3] == pixels


def test_extract_features_null_payload_yields_nulls(spark):
    """NULL payload → NULL byte_len/content_md5/embedding (SQL
    semantics, matching the DuckDB oracle's md5(NULL) = NULL)."""
    from pyspark.sql import Row as R

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import extract_features

    df = spark.createDataFrame(
        [R(doc_id=0, payload=bytearray(b"abc")), R(doc_id=1, payload=None)],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in extract_features(df).collect()}
    assert rows[0].byte_len == 3 and rows[0].content_md5 is not None
    assert rows[1].byte_len is None
    assert rows[1].content_md5 is None
    assert rows[1].fake_embedding is None
    assert rows[1].pixel_sum is None


def _tiny_vectors(spark, n=12, dim=4):
    from pyspark.sql import Row as R

    return spark.createDataFrame(
        [
            R(vec_id=i, embedding=[float((i * 7 + j) % 5) for j in range(dim)])
            for i in range(n)
        ]
    )


def test_semdedup_expr_quadratic_guard_fires_at_probe_shape(spark):
    """k=160 (the scale probe's smallest centroid count) with the
    default assign='expr' must warn; oracle shape (k=16) and the arrow
    path must stay silent."""
    import warnings as W

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import semdedup

    df = _tiny_vectors(spark)
    with W.catch_warnings(record=True) as rec:
        W.simplefilter("always")
        semdedup(df, n_centroids=160, persist_cells=False)
    assert any(
        issubclass(w.category, RuntimeWarning) and "assign='arrow'" in str(w.message)
        for w in rec
    )
    with W.catch_warnings(record=True) as rec:
        W.simplefilter("always")
        semdedup(df, n_centroids=16, persist_cells=False)
    assert not [w for w in rec if issubclass(w.category, RuntimeWarning)]
    with W.catch_warnings(record=True) as rec:
        W.simplefilter("always")
        semdedup(df, n_centroids=160, persist_cells=False, assign="arrow")
    assert not [w for w in rec if issubclass(w.category, RuntimeWarning)]


def test_pipeline_interpolate_option_fills_spine_ticks(spark):
    """aggregate_pipeline(interpolate=[...]): spine-inserted NULL ticks
    get linear interpolation; default (off) reproduces reference NULLs."""
    import datetime as dt

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.plans import aggregate_pipeline

    t = lambda m: dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)
    raw = spark.createDataFrame(
        [(t(0), 1, 10.0), (t(90), 4, 40.0)],
        "TIMESTAMP timestamp, RECORD long, Tair double",
    )
    # default: gap ticks stay NULL (reference semantics)
    off = {
        r["TIMESTAMP"]: r["Tair"]
        for r in aggregate_pipeline(raw, freq_minutes=30, qc=False).collect()
    }
    assert off[t(30)] is None and off[t(60)] is None
    on = {
        r["TIMESTAMP"]: r["Tair_li"]
        for r in aggregate_pipeline(
            raw, freq_minutes=30, qc=False, interpolate=["Tair"]
        ).collect()
    }
    assert on[t(0)] == 10.0 and on[t(90)] == 40.0
    assert on[t(30)] == 20.0 and on[t(60)] == 30.0


def test_interpolate_linear_no_key_and_round6_off(spark):
    """key_col=None (single global series) and round6=False (raw IEEE
    interpolation, no HALF_UP canonicalization)."""
    import datetime as dt

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators.gapfill import (
        interpolate_linear,
    )

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    df = spark.createDataFrame(
        [(1, t(0), 1.0), (2, t(10), None), (3, t(30), 2.0)],
        "event_id int, ts timestamp, v double",
    )
    out = {
        r["event_id"]: r["v_li"]
        for r in interpolate_linear(
            df, "ts", None, "v", order_tiebreak="event_id", round6=False
        ).collect()
    }
    assert out[2] == 1.0 + (2.0 - 1.0) * (10 / 30)


def test_minhash_lsh_pairs_unique_and_sizes_folded(spark):
    """The lag-window candidate dedup must emit each (id_a, id_b) pair
    exactly once (same set as the old distinct()), and
    minhash_signatures(with_sizes=True) must carry exact set sizes."""
    from pyspark.sql import Row as R

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm import (
        minhash_lsh_pairs,
        minhash_signatures,
        shingles,
    )

    docs = spark.createDataFrame(
        [
            R(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            R(doc_id=2, text="the quick brown fox jumps over the lazy dog"),
            R(doc_id=3, text="the quick brown fox leaps over the lazy dog"),
            R(doc_id=4, text="completely different words here entirely now"),
        ]
    )
    from pyspark.sql import functions as F

    pairs = [(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs).collect()]
    assert len(pairs) == len(set(pairs))  # no duplicate pairs
    assert (1, 2) in pairs  # identical docs must collide in every band
    assert all(a < b for a, b in pairs)
    sh = shingles(docs)
    sig = minhash_signatures(docs, shingles_df=sh, with_sizes=True)
    sizes = {r.id: r.n_sh for r in sig.select("id", "n_sh").collect()}
    true_sizes = {
        r.id: r.n for r in sh.groupBy("id").agg(F.count("*").alias("n")).collect()
    }
    assert sizes == true_sizes


def _palette_png(width, height, indices, plte, extra_chunk=None):
    def chunk(t, body):
        return (
            struct.pack(">I", len(body))
            + t
            + body
            + struct.pack(">I", zlib.crc32(t + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 3, 0, 0, 0)
    raw = bytearray()
    for y in range(height):
        raw.append(0)
        raw += bytes(indices[y * width : (y + 1) * width])
    png = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"PLTE", plte)
    if extra_chunk:
        png += chunk(*extra_chunk)
    return png + chunk(b"IDAT", zlib.compress(bytes(raw), 6)) + chunk(b"IEND", b"")


def test_png_palette_decode_expands_to_rgb():
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.png import decode_png

    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # red, green, blue
    idx = [0, 1, 2, 2, 1, 0]
    w, h, c, pix = decode_png(_palette_png(3, 2, idx, plte))
    assert (w, h, c) == (3, 2, 3)
    expect = b"".join(plte[i * 3 : i * 3 + 3] for i in idx)
    assert pix == expect


def test_png_palette_trns_and_bad_index_rejected():
    import pytest as _pytest

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.png import (
        PngUnsupported,
        decode_png,
    )

    plte = bytes([10, 20, 30, 40, 50, 60])
    # r11: palette tRNS now DECODES to RGBA (entries past the run opaque)
    w, h, c, pix = decode_png(
        _palette_png(2, 1, [0, 1], plte, extra_chunk=(b"tRNS", b"\x00"))
    )
    assert (w, h, c) == (2, 1, 4)
    assert pix == bytes([10, 20, 30, 0, 40, 50, 60, 255])
    with _pytest.raises(PngUnsupported):  # index beyond palette
        decode_png(_palette_png(2, 1, [0, 5], plte))


def test_ivf_assign_arrow_nprobe2_parity(spark):
    """ivf_assign_arrow must agree with the expression assignment on
    BOTH probes (value order and centroid-id tiebreak) at n_probe=2."""
    from pyspark.sql import functions as F

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm import (
        ivf_assign,
        ivf_assign_arrow,
        kmeans_centroids,
    )

    df = _tiny_vectors(spark, n=40, dim=4).select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    cents = kmeans_centroids(df, n_centroids=6, iters=0, vec_col="v")
    ex = {
        (r.vec_id, r.centroid_id)
        for r in ivf_assign(df, cents, n_probe=2, vec_col="v").collect()
    }
    ar = {
        (r.vec_id, r.centroid_id)
        for r in ivf_assign_arrow(df, cents, n_probe=2, vec_col="v").collect()
    }
    assert ex == ar and len(ex) == 80


def test_resize_images_palette_png_roundtrip(spark):
    """Palette PNGs flow through the real resize path: decode expands
    PLTE to RGB, resample, re-encode as color-type-2 RGB."""
    from pyspark.sql import Row as R

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import resize_images
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.png import decode_png

    plte = bytes([9, 8, 7, 100, 101, 102])
    png = _palette_png(2, 2, [0, 1, 1, 0], plte)
    df = spark.createDataFrame([R(doc_id=0, payload=bytearray(png))])
    row = resize_images(df, 4, 4).collect()[0]
    assert row.meta.mime == "image/png"
    w, h, c, pix = decode_png(bytes(row.payload))
    assert (w, h, c) == (4, 4, 3)
    # nearest-neighbor of the [0,1,1,0] checker doubled to 4x4:
    # top-left keeps color 0, top-right maps to source x=1 -> color 1,
    # bottom-right maps to source (1,1) -> color 0
    assert pix[0:3] == plte[0:3]
    assert pix[2 * 3 : 3 * 3] == plte[3:6]
    assert pix[-3:] == plte[0:3]


def test_rotation_debt_tool_reads_records():
    """tools/rotation_debt aggregates driver + local correctness
    records; the current registry must have zero never-checked entries
    once the local r8 record is counted."""
    from tools import rotation_debt

    driver, local, latest = rotation_debt.load_rounds()
    assert latest >= 8
    import __spark_entry__ as entrymod

    names = list(entrymod.queries())
    # every registry entry has SOME green record (driver or local)
    missing = [n for n in names if n not in driver and n not in local]
    assert missing == []


def test_png_decode_hostile_payloads_raise_pngunsupported_only():
    """Workers must see PngUnsupported (-> digest fallback), never a
    bare numpy/zlib exception: zero-dim headers, oversized IDAT
    (zip-bomb shape), truncated streams, random garbage, mutations."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.png import (
        PngUnsupported,
        decode_png,
        encode_png,
    )

    def chunk(t, body):
        return (
            struct.pack(">I", len(body))
            + t
            + body
            + struct.pack(">I", zlib.crc32(t + body) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"

    def png_of(w, h, raw):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        return (
            sig
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6))
            + chunk(b"IEND", b"")
        )

    hostile = [
        png_of(0, 0, b""),                      # zero-dim
        png_of(4, 0, b""),                      # zero height
        png_of(2, 2, b"\x00" * 1_000_000),      # IDAT expands past geometry
        png_of(2, 2, b"\x00\x01\x02"),          # too short
        sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)),  # no IEND
    ]
    good = encode_png(3, 3, 1, bytes(range(9)))
    # truncations and single-byte mutations of a valid file
    hostile += [good[:n] for n in (8, 20, 40, len(good) - 5)]
    for i in (12, 16, 33, 37, 45):
        if i < len(good):
            hostile.append(good[:i] + bytes([good[i] ^ 0xFF]) + good[i + 1 :])
    rng = random.Random(88)
    hostile += [bytes(rng.randrange(256) for _ in range(64)) for _ in range(5)]

    for p in hostile:
        try:
            w, h, c, pix = decode_png(p)
            assert len(pix) == w * h * c  # decoded despite mutation: fine
        except PngUnsupported:
            pass  # the ONLY acceptable exception


def test_levenshtein_max_block_size_valve(spark):
    """The prefix-block skew valve: an over-cap block's pairs drop,
    small blocks are untouched; default (None) keeps exact semantics."""
    from pyspark.sql import Row as R

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm import levenshtein_blocked_pairs

    boiler = "the same boilerplate opening text here "
    docs = spark.createDataFrame(
        [R(doc_id=i, text=boiler + f"variant {i}") for i in range(5)]
        + [
            R(doc_id=10, text="rare prefix alpha beta gamma"),
            R(doc_id=11, text="rare prefix alpha beta gamme"),
        ]
    )
    full = {(r.doc_a, r.doc_b) for r in levenshtein_blocked_pairs(docs).collect()}
    assert (10, 11) in full and len(full) > 1  # boiler pairs present
    capped = {
        (r.doc_a, r.doc_b)
        for r in levenshtein_blocked_pairs(docs, max_block_size=3).collect()
    }
    assert capped == {(10, 11)}  # hot block dropped, small block kept


def test_charlm_model_forms_bit_identical(spark):
    """charlm_score('broadcast') vs ('window'): same integer
    micro-unit arithmetic through two physical shapes — results must
    be bit-identical, and cache_out must hand back the persisted
    per-(doc, bigram) frame for lifecycle control."""
    from pyspark.sql import Row as R

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.curation import charlm_score

    texts = [
        "the cat sat on the mat and the dog sat on the log",
        "zq xv jk qz wx kj zzqqxxvvjj",
        "",
        "a",
        "ab",
        "the the the the the",
    ]
    docs = spark.createDataFrame(
        [R(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    co = []
    b = charlm_score(docs, model="broadcast", cache_out=co).orderBy("doc_id").collect()
    w = charlm_score(docs, model="window").orderBy("doc_id").collect()
    assert b == w
    assert len(co) == 1 and co[0].is_cached
    co[0].unpersist()
    assert not co[0].is_cached
    with pytest.raises(ValueError):
        charlm_score(docs, model="nope")
