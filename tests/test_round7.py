"""Round-7 fixes: semdedup cache handle, winsorize NULL pass-through,
embed_neardup_pairs approx_count (no eager count job)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


# ------------------------------------------------- semdedup cache handle
def test_semdedup_cells_out_handle_releases_cache(spark, make_vecs):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
        semdedup,
    )

    spark.catalog.clearCache()
    df = make_vecs(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0]), (4, [0.0, 1.0])],
    )
    handle: list = []
    out = semdedup(df, n_centroids=1, threshold=0.95, cells_out=handle)
    rows = {r["vec_id"]: r["keep"] for r in out.collect()}
    assert rows == {1: True, 2: False, 3: True, 4: False}
    assert len(handle) == 1
    # the persisted cells frame is cached until released via the handle
    assert handle[0].storageLevel.useMemory
    handle[0].unpersist(blocking=True)
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().isEmpty()


def test_semdedup_persist_false_leaves_no_cache(spark, make_vecs):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
        semdedup,
    )

    spark.catalog.clearCache()
    df = make_vecs([(1, [1.0, 0.0]), (2, [0.0, 1.0])])
    handle: list = []
    semdedup(df, n_centroids=1, persist_cells=False, cells_out=handle).collect()
    assert handle == []
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().isEmpty()


# --------------------------------------------- winsorize NULL semantics
def test_winsorize_drops_null_rows_by_default(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.curation import (
        winsorize_by_group,
    )

    df = spark.createDataFrame(
        [Row(g="a", x=float(i)) for i in range(1, 11)]
        + [Row(g="a", x=None)]
    )
    out = winsorize_by_group(df, "g", "x", 0.1, 0.9)
    assert out.count() == 10


def test_winsorize_keep_nulls_passes_rows_through(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.curation import (
        winsorize_by_group,
    )

    df = spark.createDataFrame(
        [Row(g="a", x=float(i)) for i in range(1, 11)]
        + [Row(g="a", x=None), Row(g="b", x=None)]
    )
    out = winsorize_by_group(df, "g", "x", 0.1, 0.9, keep_nulls=True)
    assert out.count() == 12
    nulls = out.filter(F.col("x").isNull()).collect()
    assert len(nulls) == 2
    for r in nulls:
        assert r["lo_cut"] is None and r["hi_cut"] is None
        assert r["winsorized"] is None
    # non-null rows clamp exactly as without the flag
    clamped = {
        r["x"]: r["winsorized"]
        for r in out.filter(F.col("x").isNotNull()).collect()
    }
    assert clamped[1.0] == 1.0  # lo rank ceil(0.1*10)=1 -> cut at 1.0
    assert clamped[10.0] == 9.0  # hi rank ceil(0.9*10)=9 -> cut at 9.0


# --------------------------------- embed_neardup_pairs approx_count path
def test_embed_neardup_approx_count_skips_count_job(spark, make_vecs):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
        embed_neardup_pairs,
    )

    df = make_vecs(
        [(i, [1.0 if j == i % 4 else 0.0 for j in range(4)]) for i in range(20)]
    )

    def _boom():
        raise AssertionError("df.count() must not run when approx_count is given")

    df.count = _boom  # instance shadow: any eager count would trip it
    out = embed_neardup_pairs(
        df, threshold=0.99, dim=4, approx_count=20, tables=2
    )
    assert out.count() > 0  # materializes without ever calling df.count


def test_embed_neardup_approx_count_matches_exact_sizing(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
        srp_planes_for,
    )

    # the docstring contract: planes moves by at most 1 per 2x estimate error
    assert abs(srp_planes_for(10_000) - srp_planes_for(20_000)) <= 1
    assert srp_planes_for(10_000) == srp_planes_for(10_000)


# ----------------------------------------------------------- PNG codec
def test_png_roundtrip_all_channel_layouts():
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.png import (
        decode_png,
        encode_png,
    )

    for channels in (1, 2, 3, 4):
        w, h = 5, 3
        pix = bytes((i * 37 + channels) % 256 for i in range(w * h * channels))
        w2, h2, c2, pix2 = decode_png(encode_png(w, h, channels, pix))
        assert (w2, h2, c2) == (w, h, channels)
        assert pix2 == pix


def _raw_png(width, height, channels, raw_scanlines):
    """Hand-build a PNG from pre-filtered scanline bytes."""
    import struct
    import zlib

    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]

    def chunk(t, b):
        return (
            struct.pack(">I", len(b))
            + t
            + b
            + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw_scanlines)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_every_filter_type():
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.png import (
        decode_png,
    )

    # 3 px wide, 1 channel. Row0 unfiltered = [10, 20, 30].
    # Row1 Sub:   raw [5, 5, 5]   -> [5, 10, 15]
    # Row2 Up:    raw [1, 1, 1]   -> [6, 11, 16]
    # Row3 Avg:   raw [2, 2, 2]   -> a=left,b=up: [2+3=5, 2+(5+11)//2=10, 2+(10+16)//2=15]
    # Row4 Paeth: raw [0, 0, 0]   -> pred: a=0,b=5,c=0 -> 5 ; then a=5,b=10,c=5 -> 10; a=10,b=15,c=10 -> 15
    raw = bytes(
        [0, 10, 20, 30]
        + [1, 5, 5, 5]
        + [2, 1, 1, 1]
        + [3, 2, 2, 2]
        + [4, 0, 0, 0]
    )
    w, h, c, pix = decode_png(_raw_png(3, 5, 1, raw))
    assert (w, h, c) == (3, 5, 1)
    rows = [list(pix[i * 3:(i + 1) * 3]) for i in range(5)]
    assert rows[0] == [10, 20, 30]
    assert rows[1] == [5, 10, 15]
    assert rows[2] == [6, 11, 16]
    assert rows[3] == [5, 10, 15]
    assert rows[4] == [5, 10, 15]


def test_png_unsupported_payloads_raise():
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.png import (
        PngUnsupported,
        decode_png,
        is_png,
    )

    assert not is_png(b"plain text")
    with pytest.raises(PngUnsupported):
        decode_png(b"plain text bytes")
    # 16-bit depth DECODES as of r13 (high-byte reduction) — this test
    # originally asserted rejection; flipped with the capability
    import struct
    import zlib

    def chunk(t, b):
        return (
            struct.pack(">I", len(b))
            + t
            + b
            + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF)
        )

    ihdr16 = struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)
    p = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr16)
        + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
        + chunk(b"IEND", b"")
    )
    assert decode_png(p) == (1, 1, 1, b"\x00")


def test_png_resize_nearest_exact():
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.png import (
        resize_nearest,
    )

    # 4x4 gray gradient downsampled 2x2: floor mapping picks (0,0),(2,0),(0,2),(2,2)
    pix = bytes(range(16))
    out = resize_nearest(4, 4, 1, pix, 2, 2)
    assert list(out) == [0, 2, 8, 10]
    # upsample 1x1 -> 3x3 replicates the pixel
    assert list(resize_nearest(1, 1, 1, b"\x07", 3, 3)) == [7] * 9


def test_extract_features_png_pixels_and_fallback(spark):
    from pyspark.sql import Row as R

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
        extract_features,
    )
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.png import (
        encode_png,
    )

    png = encode_png(2, 2, 1, bytes([1, 2, 3, 4]))
    df = spark.createDataFrame(
        [R(doc_id=0, payload=bytearray(png)), R(doc_id=1, payload=bytearray(b"not a png"))]
    )
    out = {r["doc_id"]: r for r in extract_features(df).collect()}
    assert (out[0]["width"], out[0]["height"], out[0]["channels"]) == (2, 2, 1)
    assert out[0]["pixel_sum"] == 10
    assert out[1]["pixel_sum"] is None and out[1]["width"] is None
    assert out[1]["content_md5"] is not None  # digest fallback intact


def test_resize_images_real_png_path(spark):
    from pyspark.sql import Row as R

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
        resize_images,
    )
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.png import (
        decode_png,
        encode_png,
    )

    png = encode_png(4, 4, 1, bytes(range(16)))
    df = spark.createDataFrame([R(doc_id=0, payload=bytearray(png))])
    out = resize_images(df, 2, 2).collect()[0]
    assert out["meta"]["mime"] == "image/png"
    w, h, c, pix = decode_png(bytes(out["payload"]))
    assert (w, h, c) == (2, 2, 1)
    assert list(pix) == [0, 2, 8, 10]


# -------------------------------------------------- arrow IVF assignment
def test_ivf_assign_arrow_matches_expression_form(spark, make_vecs):
    import random

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
        ivf_assign,
        ivf_assign_arrow,
        kmeans_centroids,
    )

    rng = random.Random(11)
    df = make_vecs(
        [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(80)],
    )
    cents = kmeans_centroids(df, n_centroids=6)
    for n_probe in (1, 3):
        expr = {
            (r["vec_id"], r["centroid_id"])
            for r in ivf_assign(df, cents, n_probe=n_probe).collect()
        }
        arrow = {
            (r["vec_id"], r["centroid_id"])
            for r in ivf_assign_arrow(df, cents, n_probe=n_probe).collect()
        }
        assert arrow == expr
    # n_probe beyond k clamps instead of erroring
    full = ivf_assign_arrow(df, cents, n_probe=99).collect()
    assert len(full) == 80 * 6


def test_semdedup_arrow_assign_matches_expr(spark, make_vecs):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
        semdedup,
    )

    df = make_vecs(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [0.0, 0.0, 1.0]),
            (5, [0.0, 0.01, 0.999]),
        ],
    )
    kw = dict(n_centroids=2, threshold=0.95, persist_cells=False)
    expr = sorted(
        (r["vec_id"], r["keep"]) for r in semdedup(df, **kw).collect()
    )
    arrow = sorted(
        (r["vec_id"], r["keep"])
        for r in semdedup(df, assign="arrow", **kw).collect()
    )
    assert arrow == expr


# ---------------- left-outer stream join: nanos-long ts representation
def test_stream_interval_join_left_on_nanos_long_events(spark, tmp_path):
    """The driver's events.parquet has shipped ts as TIMESTAMP(NANOS)
    (bigint under nanosAsLong). The left-outer query's sentinel-flush
    file must be written in the SAME raw representation or the second
    batch misparses; this runs the whole query against a nanos-long
    events dir and checks the outer-null semantics end-to-end."""
    import datetime as dt

    import __spark_entry__ as entrymod
    from pyspark.sql import functions as SF

    t0 = dt.datetime(2024, 5, 1, 12, 0)

    def us(d):
        return int((d - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)

    rows = [
        # user 1: purchase with a click 10 min earlier -> match
        (1, us(t0 - dt.timedelta(minutes=10)) * 1000, 1, "click", 1.0, None),
        (2, us(t0) * 1000, 1, "purchase", 9.0, None),
        # user 2: purchase with no click -> null row after flush
        (3, us(t0) * 1000, 2, "purchase", 5.0, None),
    ]
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        rows,
        "event_id bigint, ts bigint, user_id bigint, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(os.path.join(sf_dir, "events.parquet"))

    out = entrymod.q_stream_interval_join_left(spark, sf_dir)
    got = sorted(
        (r["purchase_id"], r["click_id"], r["user_id"]) for r in out.collect()
    )
    assert got == [(2, 1, 1), (3, None, 2)]
    gaps = {r["purchase_id"]: r["gap_us"] for r in out.collect()}
    assert gaps[2] == 10 * 60 * 1_000_000
    assert gaps[3] is None


# ------------------------------------------------- linear interpolation
def test_interpolate_linear_fills_between_neighbors(spark):
    import datetime as dt

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators.gapfill import (
        interpolate_linear,
    )

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    df = spark.createDataFrame(
        [
            # user 1: 10.0 at :00, NULL at :15 (1/3 of the gap), 40.0 at :45
            (1, 1, t(0), 10.0),
            (1, 2, t(15), None),
            (1, 3, t(45), 40.0),
            # leading/trailing nulls stay null
            (2, 4, t(0), None),
            (2, 5, t(10), 5.0),
            (2, 6, t(20), None),
        ],
        "user_id int, event_id int, ts timestamp, v double",
    )
    out = {
        r["event_id"]: r["v_li"]
        for r in interpolate_linear(
            df, "ts", "user_id", "v", order_tiebreak="event_id"
        ).collect()
    }
    assert out[1] == 10.0 and out[3] == 40.0  # pass-through
    assert out[2] == 20.0  # 10 + (40-10) * 15/45
    assert out[4] is None and out[6] is None  # edges


def test_interpolate_linear_tied_timestamp_with_prev(spark):
    import datetime as dt

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators.gapfill import (
        interpolate_linear,
    )

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, 1, t0, 7.0), (1, 2, t0, None), (1, 3, dt.datetime(2024, 1, 2), 9.0)],
        "user_id int, event_id int, ts timestamp, v double",
    )
    out = {
        r["event_id"]: r["v_li"]
        for r in interpolate_linear(
            df, "ts", "user_id", "v", order_tiebreak="event_id"
        ).collect()
    }
    assert out[2] == 7.0  # zero elapsed -> prev value exactly


# -------------------------------------- native streaming watermark dedup
def test_stream_dedup_within_watermark_drops_cross_batch_dupes(spark, tmp_path):
    import datetime as dt

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.streaming import (
        stream_dedup_within_watermark,
    )

    schema = "event_id bigint, ts timestamp, v double"
    t0 = dt.datetime(2024, 1, 1, 12, 0)
    src = str(tmp_path / "src")
    os.makedirs(src)

    def write(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(src, name)
        )

    write("f0.parquet", [(1, t0, 1.0), (2, t0, 2.0)])
    # duplicate key 1 arrives in a LATER micro-batch, within the watermark
    write("f1.parquet", [(1, t0 + dt.timedelta(minutes=5), 9.0), (3, t0, 3.0)])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = stream_dedup_within_watermark(
        stream, keys=("event_id",), ts_col="ts", watermark="1 hour"
    )
    rows = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r["event_id"], r["v"]) for r in rows)
    assert got == [(1, 1.0), (2, 2.0), (3, 3.0)]  # first arrival wins
