"""Core operator semantics vs the reference's pandas behavior
(dedup src/AzureDataLakeAccess.py:50-54, gap fill :56-59, water year
:282-289, incremental window :349-418)."""

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.functions.time import (
    water_year,
    water_year_of,
    first_date_of_water_year,
    last_date_of_water_year,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators import (
    CrossWaterYearError,
    dedup_keep_richest,
    gap_fill,
    resolve_window,
    union_by_name,
    latest_per_group,
)

TS = dt.datetime


def test_dedup_keeps_lowest_record_then_fewest_nulls(spark):
    rows = [
        # duplicate ts: lower RECORD wins even with more nulls? No —
        # reference sorts by RECORD first (:52), so RECORD=1 wins
        Row(TIMESTAMP=TS(2022, 1, 1, 0, 0), RECORD=2, a=1.0, b=2.0),
        Row(TIMESTAMP=TS(2022, 1, 1, 0, 0), RECORD=1, a=None, b=None),
        # tie on RECORD: fewer nulls wins
        Row(TIMESTAMP=TS(2022, 1, 1, 0, 30), RECORD=5, a=None, b=2.0),
        Row(TIMESTAMP=TS(2022, 1, 1, 0, 30), RECORD=5, a=1.0, b=2.0),
        # null RECORD loses to non-null (pandas sorts NaN last)
        Row(TIMESTAMP=TS(2022, 1, 1, 1, 0), RECORD=None, a=9.0, b=9.0),
        Row(TIMESTAMP=TS(2022, 1, 1, 1, 0), RECORD=7, a=1.0, b=None),
    ]
    out = dedup_keep_richest(spark.createDataFrame(rows)).orderBy("TIMESTAMP").collect()
    assert [r.RECORD for r in out] == [1, 5, 7]
    assert out[1].a == 1.0
    assert out[2].a == 1.0


def test_dedup_idempotent(spark):
    rows = [
        Row(TIMESTAMP=TS(2022, 1, 1, 0, 0), RECORD=1, a=1.0),
        Row(TIMESTAMP=TS(2022, 1, 1, 0, 0), RECORD=2, a=2.0),
    ]
    once = dedup_keep_richest(spark.createDataFrame(rows))
    twice = dedup_keep_richest(once)
    assert once.collect() == twice.collect()


def test_gap_fill_pads_to_midnight_and_fills_ticks(spark):
    rows = [
        Row(TIMESTAMP=TS(2022, 1, 1, 3, 30), RECORD=1, v=1.0),
        Row(TIMESTAMP=TS(2022, 1, 1, 5, 0), RECORD=2, v=2.0),  # gap at 4:00,4:30
    ]
    out = gap_fill(spark.createDataFrame(rows), freq_minutes=30)
    got = out.orderBy("TIMESTAMP").collect()
    # floor(3:30) = 00:00, ceil(5:00) = next midnight → 49 ticks
    assert len(got) == 49
    assert got[0].TIMESTAMP == TS(2022, 1, 1, 0, 0)
    assert got[-1].TIMESTAMP == TS(2022, 1, 2, 0, 0)
    by_ts = {r.TIMESTAMP: r for r in got}
    assert by_ts[TS(2022, 1, 1, 3, 30)].v == 1.0
    assert by_ts[TS(2022, 1, 1, 4, 0)].v is None
    # exact-midnight max stays (pandas ceil('D') identity on midnight)
    rows2 = [Row(TIMESTAMP=TS(2022, 1, 1, 0, 0), RECORD=1, v=1.0),
             Row(TIMESTAMP=TS(2022, 1, 2, 0, 0), RECORD=2, v=2.0)]
    n = gap_fill(spark.createDataFrame(rows2), freq_minutes=30).count()
    assert n == 49


def test_gap_fill_per_site(spark):
    rows = [
        Row(site="A", TIMESTAMP=TS(2022, 1, 1, 1, 0), v=1.0),
        Row(site="B", TIMESTAMP=TS(2022, 3, 5, 2, 0), v=2.0),
    ]
    out = gap_fill(
        spark.createDataFrame(rows), freq_minutes=60, partition_cols=["site"]
    )
    counts = {r.site: r.n for r in out.groupBy("site").agg(F.count("*").alias("n")).collect()}
    assert counts == {"A": 25, "B": 25}


def test_water_year(spark):
    df = spark.createDataFrame(
        [Row(d=dt.date(2021, 9, 30)), Row(d=dt.date(2021, 10, 1))]
    ).select(water_year("d").alias("wy"))
    assert [r.wy for r in df.collect()] == [2021, 2022]
    assert water_year_of(dt.date(2021, 9, 30)) == 2021
    assert water_year_of(dt.date(2021, 10, 1)) == 2022
    assert first_date_of_water_year(2022) == dt.date(2021, 10, 1)
    assert last_date_of_water_year(2022) == dt.date(2022, 9, 30)


def test_resolve_window_four_cases():
    d = dt.date
    # both given, same water year
    assert resolve_window(d(2022, 1, 1), d(2022, 6, 1)) == (d(2022, 1, 1), d(2022, 6, 1))
    with pytest.raises(CrossWaterYearError):
        resolve_window(d(2022, 9, 1), d(2022, 10, 2))
    # start only: clamp to water-year end when today is past it
    assert resolve_window(d(2021, 11, 1), None, today=d(2023, 1, 1)) == (
        d(2021, 11, 1), d(2022, 9, 30))
    # start only: today within the water year
    assert resolve_window(d(2022, 1, 1), None, today=d(2022, 2, 1)) == (
        d(2022, 1, 1), d(2022, 2, 1))
    # end only, no previous aggregate → start of end's water year
    assert resolve_window(None, d(2022, 6, 1)) == (d(2021, 10, 1), d(2022, 6, 1))
    # end only, watermark present → watermark - 1 day
    assert resolve_window(None, d(2022, 6, 1), latest_aggregated=d(2022, 5, 1)) == (
        d(2022, 4, 30), d(2022, 6, 1))
    # neither: no aggregate → start of today's water year → today
    assert resolve_window(today=d(2022, 2, 1)) == (d(2021, 10, 1), d(2022, 2, 1))
    # neither: watermark in an older water year → clamp end to that year
    assert resolve_window(latest_aggregated=d(2022, 5, 1), today=d(2023, 1, 1)) == (
        d(2022, 4, 30), d(2022, 9, 30))


def test_union_by_name_fills_missing_columns(spark):
    a = spark.createDataFrame([Row(TIMESTAMP=TS(2022, 1, 1), RECORD=1, x=1.0)])
    b = spark.createDataFrame([Row(TIMESTAMP=TS(2022, 1, 2), RECORD=2, y=3.0)])
    out = union_by_name([a, b]).orderBy("TIMESTAMP").collect()
    assert out[0].y is None and out[1].x is None


def test_latest_per_group(spark):
    rows = [
        Row(g="a", d=dt.date(2022, 1, 1), f="a_20220101"),
        Row(g="a", d=dt.date(2022, 3, 1), f="a_20220301"),
        Row(g="b", d=dt.date(2022, 2, 1), f="b_20220201"),
    ]
    out = latest_per_group(spark.createDataFrame(rows), ["g"], "d")
    got = {r.g: r.f for r in out.collect()}
    assert got == {"a": "a_20220301", "b": "b_20220201"}


def test_file_name_dates_and_aggregate_csv(spark, tmp_path):
    """File-name dates (S4/S9) and the single-file CSV sink (S5): an
    aggregate name built for a date parses back to that date through
    the Spark expression and the compat helper, a raw daily name yields
    its embedded date, and the export is one time-ordered CSV with a
    header."""
    import glob

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.compat import (
        get_datetime_from_filename,
    )
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.sources.files import (
        file_date_from_daily_name,
        file_date_from_stem,
    )
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.sources.sinks import (
        build_aggregate_filename,
        write_aggregate_csv,
    )

    d = dt.date(2023, 11, 7)
    agg = build_aggregate_filename("CookEast", "Flux", 2024, "Ver00", on_date=d)
    assert get_datetime_from_filename(agg) == TS(2023, 11, 7)
    names = spark.createDataFrame(
        [(f"/agg/{agg}", "/raw/CookEast_Flux_2024_03_15_0000.dat")], "agg string, raw string"
    )
    got = names.select(
        file_date_from_stem("agg").alias("stem"), file_date_from_daily_name("raw").alias("daily")
    ).first()
    assert got.stem == d
    assert got.daily == dt.date(2024, 3, 15)

    rows = [Row(TIMESTAMP=TS(2024, 1, 1, h), v=h) for h in (3, 0, 2, 1)]
    out = str(tmp_path / "agg_csv")
    write_aggregate_csv(spark.createDataFrame(rows), out)
    (part,) = glob.glob(f"{out}/part-*.csv")
    with open(part) as f:
        lines = f.read().splitlines()
    assert lines[0] == "TIMESTAMP,v"
    assert [ln.rsplit(",", 1)[1] for ln in lines[1:]] == ["0", "1", "2", "3"]


def test_read_toa5_allow_missing_returns_empty_typed(spark, tmp_path):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.schemas import get_schema
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.sources.toa5 import read_toa5

    st = get_schema("Flux")
    df = read_toa5(
        spark, str(tmp_path / "nope" / "*.dat"), st, allow_missing=True
    )
    assert df.count() == 0
    assert df.schema == st


def test_spread_conditional(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators import spread

    one = spark.range(1000).coalesce(1)
    out = spread(one)
    assert out.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(64)
    assert spread(wide) is wide  # no-op, no extra shuffle


def test_salted_join_matches_plain_join(spark):
    from pyspark.sql import Row
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators import salted_join

    left = spark.createDataFrame(
        [Row(k=i % 5, v=i) for i in range(300)]          # key 0..4, skew-free
        + [Row(k=0, v=1000 + i) for i in range(200)]     # hot key 0
    )
    right = spark.createDataFrame([Row(k=i, name=f"n{i}") for i in range(4)])

    plain = left.join(right, "k").collect()
    salted = salted_join(left, right, "k", n_salts=8).collect()
    key = lambda r: (r.k, r.v, r.name)
    assert sorted(map(key, salted)) == sorted(map(key, plain))

    # hot-keys variant: only key 0 is salted; result set identical
    hot = salted_join(left, right, "k", n_salts=8, hot_keys=[0]).collect()
    assert sorted(map(key, hot)) == sorted(map(key, plain))

    # left join preserves unmatched left rows (k=4 has no dim row)
    plain_l = left.join(right, "k", "left").collect()
    salted_l = salted_join(left, right, "k", n_salts=8, how="left").collect()
    keyl = lambda r: (r.k, r.v, r.name)
    assert sorted(map(keyl, salted_l)) == sorted(map(keyl, plain_l))


def test_asof_join_matches_naive(spark):
    import random
    from pyspark.sql import Row
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators import asof_join

    rng = random.Random(7)
    left = spark.createDataFrame(
        [Row(k=rng.randrange(3), t=rng.randrange(100), eid=i) for i in range(120)]
    )
    right = spark.createDataFrame(
        [Row(k=k, t=t, px=k * 1000 + t) for k in range(3) for t in range(0, 100, 7)]
    )
    got = {
        r.eid: r.px
        for r in asof_join(left, right, "t", "k", ["px"]).collect()
    }
    rrows = [(r.k, r.t, r.px) for r in right.collect()]
    for l in left.collect():
        cands = [(t, px) for (k, t, px) in rrows if k == l.k and t <= l.t]
        want = max(cands)[1] if cands else None
        assert got[l.eid] == want, (l.k, l.t, got[l.eid], want)


def test_range_join_matches_naive(spark):
    import datetime as dt
    import random
    from pyspark.sql import Row
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators import range_join

    rng = random.Random(11)
    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [Row(ts=base + dt.timedelta(minutes=rng.randrange(0, 5000)), eid=i)
         for i in range(150)]
    )
    right = spark.createDataFrame(
        [Row(w_start=base + dt.timedelta(minutes=s),
             w_end=base + dt.timedelta(minutes=s + rng.randrange(30, 300)),
             wid=j)
         for j, s in enumerate(range(0, 5000, 333))]
    )
    got = sorted(
        (r.eid, r.wid)
        for r in range_join(left, right, "ts", "w_start", "w_end",
                            bucket="1 hours").collect()
    )
    want = sorted(
        (l.eid, r.wid)
        for l in left.collect() for r in right.collect()
        if r.w_start <= l.ts < r.w_end
    )
    assert got == want and len(want) > 0


def test_range_join_ntz_consistent_across_dst(spark):
    """Bucketing and the residual filter must use the SAME cast
    expressions: for TIMESTAMP_NTZ inputs under a DST session zone the
    NTZ->TIMESTAMP cast is non-linear near the spring-forward gap, and a
    residual computed on the raw columns could disagree with the slot
    assignment and silently drop matching pairs (ADVICE r4). Events every
    10 min across the US 2024-03-10 02:00 transition, 1-hour buckets.
    Wall times inside the nonexistent [02:00, 03:00) gap are excluded so
    the wall-clock oracle and instant semantics provably agree; what the
    test pins down is that slot assignment and residual cannot disagree
    with EACH OTHER across the offset change."""
    import datetime as dt
    from pyspark.sql import functions as F
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators import range_join

    la = spark.newSession()
    la.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    base = dt.datetime(2024, 3, 10, 0, 0)  # wall-clock
    gap = lambda t: dt.time(2, 0) <= t.time() < dt.time(3, 0)
    ev = [base + dt.timedelta(minutes=10 * i) for i in range(42)]
    ev = [t for t in ev if not gap(t)]
    left = la.createDataFrame(
        [(str(t), i) for i, t in enumerate(ev)], "w string, eid int"
    ).select(F.to_timestamp_ntz("w").alias("ts"), "eid")
    wins = [
        (base + dt.timedelta(minutes=90 * j),
         base + dt.timedelta(minutes=90 * j + 120), j)
        for j in range(5)
        if not gap(base + dt.timedelta(minutes=90 * j))
        and not gap(base + dt.timedelta(minutes=90 * j + 120))
    ]
    right = la.createDataFrame(
        [(str(s), str(e), j) for s, e, j in wins], "s string, e string, wid int"
    ).select(
        F.to_timestamp_ntz("s").alias("w_start"),
        F.to_timestamp_ntz("e").alias("w_end"),
        "wid",
    )
    got = sorted(
        (r.eid, r.wid)
        for r in range_join(left, right, "ts", "w_start", "w_end",
                            bucket="1 hours").collect()
    )
    want = sorted(
        (i, j)
        for i, t in enumerate(ev)
        for s, e, j in wins
        if s <= t < e
    )
    assert got == want and len(want) > 0


def test_null_count_expr_quotes_identifiers(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.functions import (
        null_count_expr,
    )

    nan = float("nan")
    df = spark.createDataFrame(
        [
            (1.0, 2.0, 3.0, "x"),
            (None, nan, 3.0, None),
            (nan, nan, None, "y"),
            (None, None, None, None),
        ],
        "`a.b` double, `we``ird` double, `has space` double, s string",
    )
    counts = [
        r["n"] for r in df.select(null_count_expr(df).alias("n")).collect()
    ]
    # NULL and NaN both count for doubles; only NULL for strings
    assert counts == [0, 3, 3, 4]
    assert [
        r["n"]
        for r in df.select(null_count_expr(df, ["we`ird"]).alias("n")).collect()
    ] == [0, 1, 1, 1]


def _null_count_frame(spark, n):
    """6 rows, ``n`` columns c0..: doubles at even j, strings at odd j;
    cell (i, j) is NULL when (i + j) % 3 == 0, NaN (doubles) when it is 1."""
    nan = float("nan")
    cols = [f"c{j}" for j in range(n)]
    rows = []
    for i in range(6):
        row = [i]
        for j in range(n):
            k = (i + j) % 3
            if j % 2 == 0:
                row.append(None if k == 0 else nan if k == 1 else float(i))
            else:
                row.append(None if k == 0 else "v")
        rows.append(tuple(row))
    types = ["double" if j % 2 == 0 else "string" for j in range(n)]
    schema = ", ".join(["id long"] + [f"{c} {t}" for c, t in zip(cols, types)])
    want = [
        sum(
            (i + j) % 3 == 0 or (j % 2 == 0 and (i + j) % 3 == 1)
            for j in range(n)
        )
        for i in range(6)
    ]
    return spark.createDataFrame(rows, schema), cols, want


@pytest.mark.parametrize("n", [0, 1, 2, 3, 243])
def test_null_count_expr_matches_hand_count(spark, n):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.functions import (
        null_count_expr,
    )

    df, cols, want = _null_count_frame(spark, n)
    got = df.select("id", null_count_expr(df, cols).alias("n")).orderBy("id")
    assert [r["n"] for r in got.collect()] == want


@pytest.mark.parametrize("n", [2, 3, 5, 243])
def test_null_count_expr_add_tree_is_balanced(spark, n):
    """The CASE terms are summed as a balanced tree: Catalyst's
    ReorderAssociativeOperator re-flattens the Add subtree at every Add
    node, quadratic in n for a left-deep chain."""
    import math

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.functions import (
        null_count_expr,
    )

    df, cols, _ = _null_count_frame(spark, n)
    plan = df.select(null_count_expr(df, cols).alias("n"))._jdf.queryExecution()
    root = plan.analyzed().projectList().head().child()

    def add_depth(e) -> int:
        if e.nodeName() != "Add":
            return 0
        return 1 + max(add_depth(e.left()), add_depth(e.right()))

    assert add_depth(root) <= math.ceil(math.log2(n)) + 1
