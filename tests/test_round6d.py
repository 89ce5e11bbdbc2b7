"""Unit tests for the round-6 fourth wave: SemDeDup, hard-negative
mining, soft-dedup weighting, temperature mixture sampling, unicode
scrubbing, tokenizer compression ratios, regression-trend QC, and the
native unpivot melt."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.curation import (
    temperature_mix,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.dedup import (
    soft_dedup_weights,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
    hard_negatives,
    semdedup,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.text import (
    mojibake_flags,
    token_compression,
    unicode_scrub,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators.layout import (
    unpivot_measures,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators.rolling import (
    trend_slope,
)


# ------------------------------------------------------------- semdedup


def test_semdedup_drops_higher_id_near_duplicate(spark, make_vecs):
    # 0 and 2 are identical directions; 1 is orthogonal
    df = make_vecs(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [2.0, 0.0]),
        ],
        labels=[0, 1, 0],
    )
    out = {
        r["vec_id"]: r
        for r in semdedup(df, n_centroids=1, threshold=0.95).collect()
    }
    assert out[0]["keep"] is True  # lowest id always survives
    assert out[1]["keep"] is True  # orthogonal: max sim 0 < threshold
    assert out[2]["keep"] is False  # duplicate of 0 → dropped
    assert out[2]["max_sim_lower"] == pytest.approx(1.0)


def test_semdedup_cross_cluster_duplicates_not_compared(spark, make_vecs):
    # identical vectors but the quantizer (2 centroids seeded from ids
    # 0/1) puts them in different cells → SemDeDup by design keeps both
    df = make_vecs(
        [
            (0, [1.0, 0.0]),
            (1, [-1.0, 0.05]),
            (2, [-1.0, 0.05]),
        ],
        labels=[0, 1, 1],
    )
    out = semdedup(df, n_centroids=2, threshold=0.9)
    assert out.filter(~F.col("keep")).count() == 1  # only the same-cell dup


# ------------------------------------------------------- hard negatives


def test_hard_negatives_excludes_same_label(spark, make_vecs):
    corpus = make_vecs(
        [
            (0, [1.0, 0.0]),  # anchor
            (1, [1.0, 0.01]),  # near-identical but SAME label → excluded
            (2, [0.9, 0.1]),  # the hard negative
            (3, [-1.0, 0.0]),  # an easy negative
        ],
        labels=[0, 0, 1, 1],
    )
    anchors = corpus.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    out = hard_negatives(corpus, anchors, k=2).collect()
    assert [r["vec_id"] for r in out] == [2, 3]
    assert all(r["label"] == 1 for r in out)
    assert out[0]["rank"] == 1 and out[0]["cosine"] > out[1]["cosine"]


# ------------------------------------------------------------ soft dedup


def test_soft_dedup_weights_inverse_count(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="aaa"),
            Row(doc_id=2, text="aaa"),
            Row(doc_id=3, text="  AAA  "),  # same after normalization
            Row(doc_id=4, text="unique"),
        ]
    )
    out = {r["doc_id"]: r for r in soft_dedup_weights(df).collect()}
    assert out[1]["n_copies"] == 3 and out[1]["weight"] == pytest.approx(1 / 3, abs=1e-6)
    assert out[4]["n_copies"] == 1 and out[4]["weight"] == 1.0
    # effective corpus size = Σ weights = number of distinct contents
    total = sum(r["weight"] for r in out.values())
    assert total == pytest.approx(2.0, abs=1e-5)


# ------------------------------------------------------ temperature mix


def test_temperature_mix_flattens_head(spark):
    rows = [Row(doc_id=i, source="head" if i < 80 else "tail") for i in range(100)]
    out = temperature_mix(
        spark.createDataFrame(rows), group_col="source", alpha=0.5
    )
    rates = {
        r["source"]: r["keep_rate"]
        for r in out.select("source", "keep_rate").distinct().collect()
    }
    # tail keeps everything, head is downsampled toward sqrt share
    assert rates["tail"] == 1.0
    assert rates["head"] == pytest.approx((0.8**0.5 / 0.2**0.5) * 0.2 / 0.8, abs=1e-6)
    # alpha=1 is the identity mixture: nobody downsampled
    out1 = temperature_mix(
        spark.createDataFrame(rows), group_col="source", alpha=1.0
    )
    assert out1.filter(F.col("keep_rate") != 1.0).count() == 0


def test_temperature_mix_keep_is_deterministic(spark):
    rows = [Row(doc_id=i, source="a" if i % 3 else "b") for i in range(60)]
    df = spark.createDataFrame(rows)
    a = sorted(r["doc_id"] for r in temperature_mix(df, "source").filter("keep").collect())
    b = sorted(r["doc_id"] for r in temperature_mix(df, "source").filter("keep").collect())
    assert a == b


# --------------------------------------------------------- unicode scrub


def test_unicode_scrub_strips_and_collapses(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, t="﻿a\x07b​  c\t\nd \x1f")]
    )
    row = df.select(
        unicode_scrub("t").alias("clean"),
        *[
            c.alias(n)
            for c, n in zip(mojibake_flags("t"), ["fffd", "n_stripped"])
        ],
    ).first()
    assert row["clean"] == "ab c d"
    assert row["n_stripped"] == 4  # BOM, BEL, ZWSP, US
    assert row["fffd"] is False
    assert (
        spark.createDataFrame([Row(t="bad � decode")])
        .select(mojibake_flags("t")[0].alias("f"))
        .first()["f"]
        is True
    )


def test_unicode_scrub_preserves_clean_text(spark):
    df = spark.createDataFrame([Row(t="already clean text")])
    assert df.select(unicode_scrub("t").alias("c")).first()["c"] == "already clean text"


# ----------------------------------------------------- token compression


def test_token_compression_ratios(spark):
    df = spark.createDataFrame([Row(t="hello world"), Row(t=""), Row(t="a,b")])
    out = df.select(
        *[
            c.alias(n)
            for c, n in zip(
                token_compression("t"), ["per_ws", "per_sub"]
            )
        ]
    ).collect()
    assert out[0]["per_ws"] == pytest.approx(11 / 2)
    assert out[0]["per_sub"] == pytest.approx(11 / 2)
    assert out[1]["per_ws"] is None  # empty text → NULL, not div-by-zero
    assert out[2]["per_sub"] == pytest.approx(3 / 3)  # a , b = 3 subwords


# ------------------------------------------------------------ trend slope


def test_trend_slope_exact_line(spark):
    base = datetime.datetime(2024, 1, 1)
    rows = [
        Row(ts=base + datetime.timedelta(seconds=s), user_id=1, value=float(2 * s + 5))
        for s in range(0, 3600, 60)
    ]
    out = trend_slope(spark.createDataFrame(rows), key_col="user_id").collect()
    assert len(out) == 1
    assert out[0]["slope"] == pytest.approx(2.0, abs=1e-6)
    assert out[0]["intercept"] == pytest.approx(5.0, abs=1e-6)
    assert out[0]["r2"] == pytest.approx(1.0, abs=1e-6)
    assert out[0]["n"] == 60


def test_trend_slope_constant_x_is_null_row(spark):
    base = datetime.datetime(2024, 1, 1, 12)
    rows = [Row(ts=base, user_id=1, value=v) for v in (1.0, 2.0)]
    out = trend_slope(spark.createDataFrame(rows), key_col="user_id").collect()
    assert len(out) == 1 and out[0]["slope"] is None  # flat clock kept, not dropped


# ---------------------------------------------------------------- unpivot


def test_unpivot_measures_long_shape(spark):
    df = spark.createDataFrame([Row(k=1, a=10.0, b=20.0), Row(k=2, a=30.0, b=40.0)])
    long = unpivot_measures(df, ids=["k"], values=["a", "b"])
    assert long.columns == ["k", "measure", "val"]
    assert long.count() == 4
    got = {
        (r["k"], r["measure"]): r["val"] for r in long.collect()
    }
    assert got[(1, "a")] == 10.0 and got[(2, "b")] == 40.0
    # no shuffle: the plan is scan → expand/project only
    plan = long._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ------------------------------------------------------------- cusum


def test_cusum_flags_step_change(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators.rolling import (
        cusum_flags,
    )

    base = datetime.datetime(2024, 1, 1)
    # 20 samples at 10, then 20 at 30: the mean is 20, so the cumulative
    # deviation bottoms out at -200 exactly at the step point
    rows = [
        Row(ts=base + datetime.timedelta(minutes=i), user_id=1,
            value=10.0 if i < 20 else 30.0, event_id=i)
        for i in range(40)
    ]
    out = cusum_flags(
        spark.createDataFrame(rows), order_tiebreak="event_id", h=150.0
    ).collect()
    flags = {r["i"]: r["shift_flag"] for r in out}
    assert flags[20] is True  # trough of the deviation (|S|=200 > 150)
    assert flags[1] is False and flags[40] is False  # ends are balanced
    # a constant series never flags at any threshold
    const = [
        Row(ts=base + datetime.timedelta(minutes=i), user_id=1, value=5.0,
            event_id=i)
        for i in range(10)
    ]
    out2 = cusum_flags(
        spark.createDataFrame(const), order_tiebreak="event_id", h=0.001
    ).collect()
    assert not any(r["shift_flag"] for r in out2)


# ----------------------------------------------------- fixed-k sampling


def test_sample_fixed_k_exact_sizes_and_determinism(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.curation import (
        sample_fixed_k,
    )

    rows = [Row(doc_id=i, lang="en" if i % 3 else "fr") for i in range(90)]
    df = spark.createDataFrame(rows)
    out = sample_fixed_k(df, key="doc_id", group_col="lang", k=10)
    sizes = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    assert sizes == {"en": 10, "fr": 10}
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in sample_fixed_k(df, key="doc_id", group_col="lang", k=10).collect()
    )
    assert a == b
    # k larger than the group: the whole group survives
    small = sample_fixed_k(df.filter("doc_id < 4"), "doc_id", "lang", k=100)
    assert small.count() == 4
    with pytest.raises(ValueError):
        sample_fixed_k(df, "doc_id", "lang", k=0)


def test_sample_fixed_k_plan_is_group_limit(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.curation import (
        sample_fixed_k,
    )

    rows = [Row(doc_id=i, lang="en") for i in range(10)]
    plan = (
        sample_fixed_k(spark.createDataFrame(rows), "doc_id", "lang", k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan  # partial top-k before the shuffle


# ---------------------------------------------------------- winsorize


def test_winsorize_clamps_to_rank_cuts(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.curation import (
        winsorize_by_group,
    )

    rows = [Row(g="a", id=i, value=float(i)) for i in range(1, 101)]
    out = winsorize_by_group(
        spark.createDataFrame(rows), group_col="g", value_col="value"
    ).collect()
    by_id = {r["id"]: r for r in out}
    # exact rank cuts: ceil(100*.05)=5 → lo=5, ceil(100*.95)=95 → hi=95
    assert by_id[1]["lo_cut"] == 5.0 and by_id[1]["hi_cut"] == 95.0
    assert by_id[1]["winsorized"] == 5.0  # below lo → clamped up
    assert by_id[99]["winsorized"] == 95.0  # above hi → clamped down
    assert by_id[50]["winsorized"] == 50.0  # interior untouched
    with pytest.raises(ValueError):
        winsorize_by_group(spark.createDataFrame(rows), "g", "value", 0.9, 0.1)


# ------------------------------------------------------- forward fill


def test_forward_fill_carries_last_non_null(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators.gapfill import (
        forward_fill,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        Row(ts=base + datetime.timedelta(minutes=i), user_id=1, event_id=i, v=v)
        for i, v in enumerate([None, 10.0, None, None, 20.0, None])
    ]
    out = forward_fill(
        spark.createDataFrame(rows), "ts", "user_id", ["v"],
        order_tiebreak="event_id",
    ).orderBy("event_id").collect()
    assert [r["v_ff"] for r in out] == [None, 10.0, 10.0, 10.0, 20.0, 20.0]


def test_forward_fill_does_not_cross_series(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators.gapfill import (
        forward_fill,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        Row(ts=base, user_id=1, event_id=0, v=99.0),
        Row(ts=base + datetime.timedelta(minutes=1), user_id=2, event_id=1, v=None),
    ]
    out = forward_fill(
        spark.createDataFrame(rows), "ts", "user_id", ["v"],
        order_tiebreak="event_id",
    ).collect()
    assert {r["user_id"]: r["v_ff"] for r in out} == {1: 99.0, 2: None}


# ------------------------------------------------------------- scd2


def test_scd2_intervals_runs_and_bounds(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators.gapfill import (
        scd2_intervals,
    )

    base = datetime.datetime(2024, 1, 1)
    seq = ["a", "a", "b", "b", "b", "a"]  # runs: a(2), b(3), a(1)
    rows = [
        Row(ts=base + datetime.timedelta(hours=i), user_id=1, event_id=i,
            event_type=t)
        for i, t in enumerate(seq)
    ]
    out = (
        scd2_intervals(
            spark.createDataFrame(rows), "user_id", "ts", "event_type",
            order_tiebreak="event_id",
        )
        .orderBy("run_id")
        .collect()
    )
    assert [(r["event_type"], r["n_rows"]) for r in out] == [
        ("a", 2), ("b", 3), ("a", 1)
    ]
    # intervals tile the timeline: each valid_to equals the next
    # valid_from; the current run is open-ended
    assert out[0]["valid_to"] == out[1]["valid_from"]
    assert out[1]["valid_to"] == out[2]["valid_from"]
    assert out[2]["valid_to"] is None
    assert out[0]["valid_from"] == base


def test_scd2_null_attr_opens_and_closes_runs(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators.gapfill import (
        scd2_intervals,
    )

    base = datetime.datetime(2024, 1, 1)
    seq = [None, None, "x", None]
    rows = [
        Row(ts=base + datetime.timedelta(hours=i), user_id=1, event_id=i,
            event_type=t)
        for i, t in enumerate(seq)
    ]
    out = (
        scd2_intervals(
            spark.createDataFrame(rows), "user_id", "ts", "event_type",
            order_tiebreak="event_id",
        )
        .orderBy("run_id")
        .collect()
    )
    assert [(r["event_type"], r["n_rows"]) for r in out] == [
        (None, 2), ("x", 1), (None, 1)
    ]


# --------------------------------------------------------- srp sizing


def test_srp_planes_for_holds_occupancy():
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
        srp_planes_for,
    )

    # occupancy n / 2^planes stays within [occ/2, occ] for n >> occ
    for n in (10_000, 100_000, 10_000_000, 10_000_000_000):
        p = srp_planes_for(n, occupancy=256)
        assert n / 2**p <= 256
        assert n / 2**p > 64  # not over-split either
    assert srp_planes_for(10) == 1  # tiny corpora degrade to 2 buckets
    with pytest.raises(ValueError):
        srp_planes_for(0)


def test_embed_neardup_default_planes_autosize(spark, make_vecs):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
        embed_neardup_pairs,
    )

    df = make_vecs(
        [(0, [1.0, 0.0]), (1, [1.0, 0.001]), (2, [0.0, 1.0])], labels=[0, 0, 1]
    )
    # planes omitted: auto-sized from the corpus count — still finds the
    # near-identical pair, still no cross join in the plan
    out = embed_neardup_pairs(df, threshold=0.99, dim=2)
    rows = out.collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(0, 1)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scd2_tied_timestamps_split_by_tiebreak(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators.gapfill import (
        scd2_intervals,
    )

    base = datetime.datetime(2024, 1, 1)
    # two state changes at the SAME timestamp: run order must follow the
    # event_id tiebreak, and lead() must still close intervals uniquely
    rows = [
        Row(ts=base, user_id=1, event_id=0, event_type="a"),
        Row(ts=base, user_id=1, event_id=1, event_type="b"),
        Row(ts=base + datetime.timedelta(hours=1), user_id=1, event_id=2,
            event_type="c"),
    ]
    out = (
        scd2_intervals(
            spark.createDataFrame(rows), "user_id", "ts", "event_type",
            order_tiebreak="event_id",
        )
        .orderBy("run_id")
        .collect()
    )
    assert [r["event_type"] for r in out] == ["a", "b", "c"]
    assert out[0]["valid_to"] == base  # closed by the tied-ts successor
    assert out[1]["valid_from"] == base
    assert out[2]["valid_to"] is None


def test_percentile_norm_ties_share_rank_and_decile(spark):
    import __spark_entry__ as entrymod
    import tempfile, os

    rows = [Row(doc_id=i, source="s", n_chars=100 if i < 4 else 200,
                text="x", lang="en") for i in range(8)]
    tmp = tempfile.mkdtemp()
    spark.createDataFrame(rows).write.parquet(os.path.join(tmp, "documents.parquet"))
    out = entrymod.queries()["percentile_norm"](spark, tmp).collect()
    by_id = {r["doc_id"]: r for r in out}
    # all four tied docs get the SAME pct_rank and decile
    assert len({(by_id[i]["pct_rank"], by_id[i]["decile"]) for i in range(4)}) == 1
    assert by_id[0]["pct_rank"] == 0.0 and by_id[0]["decile"] == 1
    assert by_id[7]["decile"] > by_id[0]["decile"]
