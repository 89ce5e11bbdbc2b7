"""Unit tests for the round-6 third wave: BM25 retrieval, z-order
layout keys (with a real parquet-footer data-skipping proof), sliding
event-time windows, and exact rank-selected quantiles."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.retrieval import (
    bm25_topk,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators import (
    zorder_key2,
)


# ------------------------------------------------------------- bm25


def test_bm25_rare_term_outranks_common(spark, make_docs):
    corpus = (
        ["alpha beta gamma delta"] * 8  # 'alpha' is everywhere
        + ["needle beta gamma delta"]  # 'needle' appears once
        + ["unrelated words only here"]
    )
    out = bm25_topk(make_docs(corpus), ["alpha", "needle"], k=10).collect()
    # the needle doc must rank first: idf('needle') >> idf('alpha')
    assert out[0]["doc_id"] == 8
    assert out[0]["n_hit_terms"] == 1
    # every returned doc hit at least one term; scores non-increasing
    scores = [r["score_micro"] for r in out]
    assert scores == sorted(scores, reverse=True)
    assert all(r["n_hit_terms"] >= 1 for r in out)
    # doc 9 (no query terms) must not appear
    assert 9 not in {r["doc_id"] for r in out}


def test_bm25_tf_saturation(spark, make_docs):
    # k1 saturates term frequency: 10 repeats must score higher than 1
    # but far less than 10x (same doc length via padding)
    pad = " pad" * 20
    corpus = ["term" + pad, ("term " * 10).strip() + pad]
    out = {
        r["doc_id"]: r["score_micro"]
        for r in bm25_topk(make_docs(corpus), ["term"], k=5).collect()
    }
    assert out[1] > out[0]
    assert out[1] < 5 * out[0]


def test_bm25_rejects_bad_args(spark, make_docs):
    with pytest.raises(ValueError):
        bm25_topk(make_docs(["x"]), [], k=5)
    with pytest.raises(ValueError):
        bm25_topk(make_docs(["x"]), ["a", "A"], k=5)
    with pytest.raises(ValueError):
        bm25_topk(make_docs(["x"]), ["a"], k=0)


# ------------------------------------------------------------- zorder


def _py_morton(x: int, y: int, bits: int = 16) -> int:
    mask = (1 << bits) - 1
    x, y = x & mask, y & mask
    out = 0
    for i in range(bits):
        out |= ((x >> i) & 1) << (2 * i)
        out |= ((y >> i) & 1) << (2 * i + 1)
    return out


def test_zorder_key_matches_reference_bits(spark):
    rows = [(3, 1), (0, 0), (65535, 65535), (12345, 54321), (70000, 7)]
    df = spark.createDataFrame([Row(x=x, y=y) for x, y in rows])
    got = df.select(
        "x", "y", zorder_key2(F.col("x"), F.col("y")).alias("z")
    ).collect()
    for r in got:
        assert r["z"] == _py_morton(r["x"], r["y"])
    assert _py_morton(3, 1) == 7  # sanity: x bits->even, y bits->odd


def test_zorder_rejects_bad_bits(spark):
    with pytest.raises(ValueError):
        zorder_key2(F.col("x"), F.col("y"), bits=0)
    with pytest.raises(ValueError):
        zorder_key2(F.col("x"), F.col("y"), bits=32)


def _rowgroup_spans(path: str, col: str) -> list[int]:
    """Per-row-group (max - min) of ``col`` straight from the parquet
    footers — the statistics data skipping actually uses."""
    import pyarrow.parquet as pq

    spans = []
    for fn in os.listdir(path):
        if not fn.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, fn)).metadata
        idx = md.schema.names.index(col)
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            spans.append(st.max - st.min)
    return spans


def test_zorder_layout_tightens_both_columns(spark, tmp_path):
    # 4096 rows over two INDEPENDENT dimensions; a single-column sort
    # leaves the other column's footer ranges full-width, the z-order
    # sort keeps BOTH narrow -> real file skipping on either predicate
    # 64x64 grid: x and y are genuinely independent dimensions
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("bigint").alias("y"),
    )
    zed = df.withColumn("z", zorder_key2(F.col("x"), F.col("y"), bits=6))
    p_x = str(tmp_path / "by_x")
    p_z = str(tmp_path / "by_z")
    df.repartitionByRange(8, "x").sortWithinPartitions("x").write.parquet(p_x)
    zed.repartitionByRange(8, "z").sortWithinPartitions("z").drop(
        "z"
    ).write.parquet(p_z)
    x_layout_y_spans = _rowgroup_spans(p_x, "y")
    z_layout_y_spans = _rowgroup_spans(p_z, "y")
    z_layout_x_spans = _rowgroup_spans(p_z, "x")
    # x-sorted layout: y stats are useless (full 0..63 width)
    assert sum(x_layout_y_spans) / len(x_layout_y_spans) > 55
    # z-order layout: BOTH columns' footer ranges shrink materially
    assert sum(z_layout_y_spans) / len(z_layout_y_spans) < 40
    assert sum(z_layout_x_spans) / len(z_layout_x_spans) < 40


# ------------------------------------------------- sliding windows


def test_sliding_window_event_in_two_windows(spark):
    ts = datetime.datetime(2022, 5, 1, 10, 20, 0)  # 10:20
    e = spark.createDataFrame(
        [Row(ts=ts, event_type="click", value=2.0)]
    )
    out = (
        e.groupBy(F.window("ts", "1800 seconds", "900 seconds"))
        .count()
        .select(
            F.unix_timestamp("window.start").alias("s"),
            "count",
        )
        .collect()
    )
    starts = sorted(r["s"] % 3600 for r in out)
    # 10:20 lands in [10:00,10:30) and [10:15,10:45)
    assert len(out) == 2
    assert starts == [0, 900]


# ------------------------------------------------- exact quantiles


def test_exact_quantiles_rank_selection(spark):
    rows = [
        Row(
            event_id=i,
            event_type="t",
            ts=datetime.datetime(2022, 1, 1),
            value=float(i + 1),
            user_id=1,
            props="",
        )
        for i in range(10)  # values 1..10
    ]
    e = spark.createDataFrame(rows)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = e.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    got = ranked.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn")
                == F.ceil(F.lit(0.5) * F.col("n").cast("double")).cast(
                    "bigint"
                ),
                F.col("value"),
            )
        ).alias("p50"),
        F.max(
            F.when(
                F.col("rn")
                == F.ceil(F.lit(0.99) * F.col("n").cast("double")).cast(
                    "bigint"
                ),
                F.col("value"),
            )
        ).alias("p99"),
    ).collect()[0]
    assert got["p50"] == 5.0  # ceil(0.5*10) = 5th smallest
    assert got["p99"] == 10.0  # ceil(9.9) = 10th


# ------------------------------------------------- markup stripping


def test_strip_markup_drops_script_style_comments(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.curation import (
        strip_markup,
    )

    html = (
        '<html><head><STYLE>p {x}</STYLE></head><body><!-- no -->'
        "<p>keep   me</p><script type=\"x\">drop; var a = '<b>';</script>"
        "tail</body></html>"
    )
    d = spark.createDataFrame([Row(doc_id=0, text=html)])
    out = d.select(strip_markup("text").alias("t")).collect()[0]["t"]
    assert out == "keep me tail"


def test_strip_markup_entity_decode_order(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.curation import (
        strip_markup,
    )

    # &amp;lt; must become '&lt;' literally (amp decoded LAST, result
    # never re-decoded), the classic double-decode bug
    d = spark.createDataFrame(
        [Row(doc_id=0, text="a &amp;lt; b &lt; c &#39;q&#39;&nbsp;!")]
    )
    out = d.select(strip_markup("text").alias("t")).collect()[0]["t"]
    assert out == "a &lt; b < c 'q' !"
