"""dedup_gap_fill and its callers: the gap-fill spine built from the
pre-dedup keys gives the same output as gap_fill(dedup_keep_richest(...))
while planning the keep-richest dedup once."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.compat import (
    indx_fill,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators import (
    dedup_gap_fill,
    dedup_keep_richest,
    gap_fill,
    union_by_name,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.plans import (
    aggregate_pipeline,
)

_SCHEMA = "site string, TIMESTAMP timestamp, RECORD long, a double, b double"


def _t(day: int, minutes: int) -> dt.datetime:
    return dt.datetime(2022, 1, day) + dt.timedelta(minutes=minutes)


def _frames(spark):
    """Previous aggregate + new raw rows for two sites with different
    spans: re-downloaded ticks (exact copies), partial copies (same RECORD,
    more NULL/NaN), a higher-RECORD copy, and a spine remnant (NULL RECORD)."""
    nan = float("nan")
    prev = spark.createDataFrame(
        [
            ("A", _t(1, 30), 1, 1.0, 1.5),
            ("A", _t(1, 60), 2, 2.0, 2.5),
            ("A", _t(1, 90), None, None, None),  # previous spine tick
            ("A", _t(1, 120), 4, 4.0, 4.5),
            ("B", _t(2, 600), 7, 7.0, 7.5),
        ],
        _SCHEMA,
    ).withColumn("qc_flag", F.lit("0"))
    new = spark.createDataFrame(
        [
            ("A", _t(1, 120), 4, 4.0, 4.5),  # re-downloaded
            ("A", _t(1, 120), 4, nan, 4.5),  # partial copy
            ("A", _t(1, 150), 5, 5.0, None),
            ("A", _t(1, 150), 5, 5.0, 5.5),
            ("A", _t(2, 30), 6, 6.0, 6.5),
            ("B", _t(2, 600), 8, 7.0, 7.5),  # higher RECORD loses
            ("B", _t(2, 600), 7, None, 7.5),  # fewer values loses
            ("B", _t(3, 0), 9, 9.0, nan),
        ],
        _SCHEMA,
    )
    return prev, new


def _digest(df) -> tuple[int, int]:
    """Order-independent: row count + sum of row hashes (summed in Python,
    a long ``sum`` overflows under ANSI mode)."""
    hashes = df.select(F.xxhash64(*sorted(df.columns))).collect()
    return len(hashes), sum(r[0] for r in hashes)


def test_pipeline_matches_gap_fill_of_dedup(spark):
    prev, new = _frames(spark)
    got = aggregate_pipeline(
        new, previous_aggregate=prev, freq_minutes=30,
        partition_cols=["site"], qc=False,
    )
    union = union_by_name([prev, new]).filter(F.col("RECORD").isNotNull())
    want = gap_fill(
        dedup_keep_richest(union, keys=["site", "TIMESTAMP"], record_col="RECORD"),
        ts_col="TIMESTAMP", freq_minutes=30, partition_cols=["site"],
    )
    assert got.columns == want.columns
    assert _digest(got) == _digest(want)
    # per-site spines: A pads Jan 1 00:30 .. Jan 2 00:30 to two days,
    # B's Jan 2 10:00 .. Jan 3 00:00 to one
    assert _digest(got)[0] == (2 * 48 + 1) + (48 + 1)


def test_pipeline_plans_one_dedup_window(spark):
    prev, new = _frames(spark)
    out = aggregate_pipeline(
        new, previous_aggregate=prev, freq_minutes=30,
        partition_cols=["site"], qc=False,
    )
    assert _row_number_windows(out) == 1


def _row_number_windows(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one Window operator computes row_number (WindowGroupLimit, its
    # partial/final top-1 pushdown, also prints row_number())
    return plan.count("Window [row_number()")


def test_dedup_gap_fill_without_partition_cols(spark):
    """The unpartitioned form ``compat.indx_fill`` uses: one site's rows,
    keyed on the timestamp alone."""
    prev, new = _frames(spark)
    rows = union_by_name([prev.drop("qc_flag"), new]).filter(
        F.col("site") == "A"
    ).drop("site")
    want = gap_fill(
        dedup_keep_richest(rows, keys=["TIMESTAMP"], record_col="RECORD"),
        ts_col="TIMESTAMP", freq_minutes=30,
    )
    for got in (
        dedup_gap_fill(rows, ts_col="TIMESTAMP", freq_minutes=30),
        indx_fill(rows, "30min"),
    ):
        assert got.columns == want.columns
        assert _digest(got) == _digest(want)
        assert _row_number_windows(got) == 1
