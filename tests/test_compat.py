"""Compatibility façade: reference-named call sites on Spark frames."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark import compat
from tests.test_driver_job import _COLS, _toa5
from tests.test_full_layout_qc import _write_fixture


def test_fast_read_hdr4_with_indx_fill(spark, tmp_path):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.schemas import (
        get_schema,
    )

    _toa5(str(tmp_path / "CookEast_Flux_2022_01_01_0000.dat"), 1, 1000, 24)
    df = compat.Fast_Read(
        [str(tmp_path / "CookEast_Flux_2022_01_01_0000.dat")],
        hdr=4,
        idxfll="30min",
        specified_dtypes=get_schema("Flux"),
        spark=spark,
    )
    # half a day of data re-gridded to the full day + midnight tick
    assert df.count() == 49
    assert df.filter(F.col("RECORD").isNotNull()).count() == 24


def test_wateryear_helpers():
    assert compat.wateryear(dt.date(2022, 10, 1)) == "2023"
    assert compat.get_first_date_of_wateryear(2022) == dt.date(2021, 10, 1)
    assert compat.get_last_date_of_wateryear(2022) == dt.date(2022, 9, 30)


def test_get_latest_file():
    files = [
        "a/CookEast_Flux_AggregateQC_CY2022_V40826_20220105.csv",
        "a/CookEast_Flux_AggregateQC_CY2022_V40826_20220301.csv",
        "a/notadate.csv",
    ]
    assert compat.get_latest_file(files) == files[1]
    assert compat.get_latest_file(["x.csv"]) is None


def test_grade_cs_with_workbook_dict(spark):
    access = {
        "Flux": {"grade": 6, "LE_B": -100.0, "H_B": -120.0, "F_B": -50.0,
                 "ustar": 0.0},
        "Met": {"LE_B": 800.0, "H_B": 900.0, "F_B": 30.0},
        "Val_3": {},
    }
    t0 = dt.datetime(2022, 1, 1)
    df = spark.createDataFrame(
        [(t0, 1, 50.0, 60.0, -3.0, 3, 3, 3, 0.0, 0.9, 0.9, 15000, 15000, 0.0)],
        "TIMESTAMP timestamp, RECORD bigint, H double, LE double, "
        "Fc_molar double, H_qc_grade bigint, LE_qc_grade bigint, "
        "Fc_qc_grade bigint, Precipitation_Tot double, "
        "CO2_sig_strgth_Min double, H2O_sig_strgth_Min double, "
        "sonic_samples_Tot bigint, Fc_samples_Tot bigint, "
        "door_is_open_Hst double",
    )
    out = compat.Grade_cs(df, access).first()
    assert out["H_Flags"] is not None
    assert out["H_Graded"] == 50.0  # grade 3 <= 6, all tests pass


def test_metqc_met_naming(spark):
    t0 = dt.datetime(2022, 1, 1)
    rows = [
        (t0 + dt.timedelta(minutes=15 * i), 5.0 + 0.1 * i, 70.0 + i, 95.0)
        for i in range(4)
    ]
    df = spark.createDataFrame(
        rows, "TIMESTAMP timestamp, amb_tmpr_Avg double, RH_Avg double, "
        "amb_press_Avg double"
    )
    out = compat.METQC(df, col="Met")
    assert "Tair_Hard_Limit" in out.columns
    assert "MSLP" in out.columns


def _full_layout_raw(tmp_path):
    """A raw dir holding one full-width (243-column) V40826 Flux day
    file, as the loggers write it, and the workbook access dict; returns
    (dir, access, written values)."""
    d = tmp_path / "raw"
    d.mkdir()
    kept = _write_fixture(str(d / "CookEast_Flux_2022_06_01_0000.dat"))
    access = {
        "Flux": {"grade": 7, "LE_B": -150, "H_B": -150, "F_B": -60,
                 "ustar": 0, "Ver": "V40826", "UPLOAD": str(tmp_path / "up")},
        "Met": {"LE_B": 1000, "H_B": 1000, "F_B": 20},
        "Val_3": {}, "Val_4": {},
    }
    return d, access, kept


def test_access_azure_reference_call_shape(spark, tmp_path):
    """The reference driver's main call (src/LTARCAFTowerReport.py:82:
    ``ADLA.AccessAzure(Sites[k], col, Time, access, CEF, QC=False)``)
    works verbatim against a local raw dir — download loop replaced by a
    direct glob read, window/QC/save semantics via run_tower_job."""
    d, access, _ = _full_layout_raw(tmp_path)
    df = compat.AccessAzure(
        "CookEast", "Flux", "30min", access, str(d), QC=False,
        startDate="2022-06-01", endDate="6/30/2022",
        spark=spark, save=False,
    )
    assert df.count() == 48 + 1  # day spine + midnight tick
    assert "H_Flags" not in df.columns  # QC=False honored
    qc = compat.AccessAzure(
        "CookEast", "Flux", "30min", access, str(d),
        startDate=dt.date(2022, 6, 1), endDate=dt.date(2022, 6, 30),
        spark=spark, save=True, out_path=str(tmp_path / "out"),
    )
    assert qc.filter(F.col("RECORD") == 1000).first()["H_Flags"] is not None
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == 48 + 1


def test_access_azure_binds_production_columns_by_name(spark, tmp_path):
    """A production logger file carries the full layout: AccessAzure
    must bind each value to its named column, not shift the file onto
    the 25-column curated view by position (which put Fc_molar's values
    under H and filler under LE, without an error)."""
    import math

    d, access, kept = _full_layout_raw(tmp_path)
    df = compat.AccessAzure(
        "CookEast", "Flux", "30min", access, str(d), QC=False,
        startDate="2022-06-01", endDate="2022-06-30",
        spark=spark, save=False,
    )
    cols = ["H", "LE", "Fc_molar", "door_is_open_Hst"]
    got = {
        r["TIMESTAMP"]: r
        for r in df.select("TIMESTAMP", *cols).collect()
        if r["TIMESTAMP"] in kept.index
    }
    assert len(got) == len(kept) == 48
    for ts, want in kept.iterrows():
        for c in cols:
            w = want[c]
            assert (got[ts][c] is None) if math.isnan(w) else got[ts][c] == w, (
                ts, c, got[ts][c], w,
            )


def test_parse_date_normalizes_datetime_to_date():
    """ADVICE r5: a datetime startDate must not flow into the date-only
    window logic (datetime subclasses date → TypeError on comparison)."""
    assert compat._parse_date(dt.datetime(2022, 1, 2, 3, 4)) == dt.date(2022, 1, 2)
    assert compat._parse_date(dt.date(2022, 1, 2)) == dt.date(2022, 1, 2)
    assert compat._parse_date("2022-01-02") == dt.date(2022, 1, 2)
    assert compat._parse_date(None) is None
