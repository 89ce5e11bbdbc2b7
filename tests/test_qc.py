"""QC semantics vs the reference's pandas arithmetic
(Met_QAQC src/AzureDataLakeAccess.py:637-804, Grade_cs :532-615),
including its null coercions and boolean-typo quirks (SURVEY.md §7)."""

import datetime as dt
import math

from pyspark.sql import Row

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.qc import (
    FluxQCConfig,
    grade_cs,
    met_qaqc,
    MET_MET_MAPPING,
)

TS = dt.datetime


def met_rows():
    def row(i, **kw):
        base = dict(
            TIMESTAMP=TS(2022, 1, 1, 0, 0) + dt.timedelta(minutes=15 * i),
            amb_tmpr_Avg=10.0,
            RH_Avg=50.0,
            amb_press_Avg=95.0,
            rslt_wnd_spd=5.0,
            wnd_dir_compass=180.0,
            Precipitation_Tot=0.0,
            PAR_density_Avg=100.0,
            Rn_meas_Avg=50.0,
            VPD_air=1.0,
            e=1.0,
            e_sat=2.0,
        )
        base.update(kw)
        return Row(**base)
    return row


def run_met(spark, rows, **kw):
    df = spark.createDataFrame(rows)
    out = met_qaqc(df, MET_MET_MAPPING, **kw)
    return [r.asDict() for r in out.orderBy("TIMESTAMP").collect()]


def test_hard_limits_and_filtered(spark):
    row = met_rows()
    got = run_met(spark, [
        row(0, amb_tmpr_Avg=-41.0),
        row(1, amb_tmpr_Avg=-40.0, rslt_wnd_spd=60.0),
        row(2, amb_tmpr_Avg=50.0, wnd_dir_compass=360.0),
        row(3, amb_tmpr_Avg=51.0, RH_Avg=104.0),
    ])
    assert [g["Tair_Hard_Limit"] for g in got] == [False, True, True, False]
    assert got[0]["Tair_Filtered"] is None
    assert got[1]["Tair_Filtered"] == -40.0
    assert got[1]["WS_Hard_Limit"] is False  # WS < 60 exclusive
    assert got[2]["WD_Hard_Limit"] is False  # WD < 360 exclusive
    assert got[3]["RH_Hard_Limit"] is False


def test_change_test_bug_compat_positive_spike_only(spark):
    row = met_rows()
    got = run_met(spark, [
        row(0, amb_tmpr_Avg=10.0),
        row(1, amb_tmpr_Avg=26.0),   # +16 spike → fails (diff >= 15)
        row(2, amb_tmpr_Avg=6.0),    # -20 "spike" → PASSES in bug-compat
        row(3, amb_tmpr_Avg=6.0),    # stuck (diff == 0) → fails
    ])
    # first row: diff NaN → pandas: ~(False) & True → passes
    assert [g["Tair_Change"] for g in got] == [True, False, True, False]
    # fixed mode flags both signs
    got_fixed = run_met(spark, [
        row(0, amb_tmpr_Avg=10.0),
        row(1, amb_tmpr_Avg=26.0),
        row(2, amb_tmpr_Avg=6.0),
        row(3, amb_tmpr_Avg=6.0),
    ], bug_compat=False)
    assert [g["Tair_Change"] for g in got_fixed] == [True, False, False, False]


def test_rh_first_row_fails_change_unlike_tair(spark):
    # RH_Change = (diff <= 50) & (diff != 0): NaN diff → False & True → False
    row = met_rows()
    got = run_met(spark, [row(0), row(1, RH_Avg=55.0)])
    assert got[0]["RH_Change"] is False
    assert got[1]["RH_Change"] is True
    assert got[0]["RH_Filtered"] is None


def test_rh_clamp_100_to_103(spark):
    row = met_rows()
    got = run_met(spark, [row(0, RH_Avg=60.0), row(1, RH_Avg=101.5)])
    assert got[1]["RH_gt_100"] is True
    assert got[1]["RH_Filtered"] == 100.0


def test_day_change_constant_true_in_bug_compat(spark):
    row = met_rows()
    got = run_met(spark, [row(0), row(1, amb_tmpr_Avg=11.0)])
    assert all(g["Tair_Day_Change"] for g in got)


def test_day_change_fixed_mode_flags_flat_days(spark):
    row = met_rows()
    rows = []
    # day 1: mean 10, day 2: mean 10 (flat) → day 2 fails, day 3: mean 12
    for d, v in [(1, 10.0), (2, 10.0), (3, 12.0)]:
        for i in range(4):
            r = row(0).asDict()
            r["TIMESTAMP"] = TS(2022, 1, d, 6, 0) + dt.timedelta(minutes=15 * i)
            r["amb_tmpr_Avg"] = v
            rows.append(Row(**r))
    got = run_met(spark, rows, bug_compat=False)
    by_day = {}
    for g in got:
        by_day.setdefault(g["TIMESTAMP"].day, set()).add(g["Tair_Day_Change"])
    assert by_day[1] == {True}   # no previous day → pass
    assert by_day[2] == {False}  # unchanged daily mean
    assert by_day[3] == {True}


def test_mslp_formula(spark):
    row = met_rows()
    got = run_met(spark, [row(0)])
    h = 8.314 * (10.0 + 273.15) / (0.029 * 9.81) / 1000.0
    expect = 95.0 / math.exp(-0.777 / h)
    assert abs(got[0]["MSLP"] - expect) < 1e-9
    assert got[0]["MSLP_Hard_Limit"] is True


def test_precip_logic(spark):
    row = met_rows()
    got = run_met(spark, [
        row(0, Precipitation_Tot=0.0),                 # zero → 0
        row(1, Precipitation_Tot=5.0, RH_Avg=95.0),    # rain + RH ≥ 90 → keep
        row(2, Precipitation_Tot=5.0, RH_Avg=50.0),    # rain, dry air → null
        row(3, Precipitation_Tot=2.0, RH_Avg=95.0, amb_tmpr_Avg=-5.0),  # frozen → null
    ])
    assert got[0]["Precip_Filtered"] == 0.0
    assert got[1]["Precip_Filtered"] == 5.0
    assert got[2]["Precip_RH_gt_90"] is False
    assert got[2]["Precip_Filtered"] is None
    assert got[3]["Precip_Tair_lt_Zero"] is True
    assert got[3]["Precip_Filtered"] is None


def test_met_qaqc_idempotent(spark):
    row = met_rows()
    df = spark.createDataFrame([row(0), row(1, amb_tmpr_Avg=20.0)])
    once = met_qaqc(df, MET_MET_MAPPING)
    twice = met_qaqc(once, MET_MET_MAPPING)
    assert sorted(once.columns) == sorted(twice.columns)
    assert once.orderBy("TIMESTAMP").collect() == twice.orderBy("TIMESTAMP").collect()


def flux_row(i, **kw):
    base = dict(
        TIMESTAMP=TS(2022, 1, 1, 0, 0) + dt.timedelta(minutes=30 * i),
        H=100.0, LE=200.0, Fc_molar=-10.0,
        H_qc_grade=3, LE_qc_grade=3, Fc_qc_grade=3,
        Precipitation_Tot=0.0,
        CO2_sig_strgth_Min=0.9, H2O_sig_strgth_Min=0.9,
        sonic_samples_Tot=17000, Fc_samples_Tot=17000,
        door_is_open_Hst=0.0,
    )
    base.update(kw)
    return Row(**base)


def test_grade_cs_all_pass(spark):
    out = grade_cs(spark.createDataFrame([flux_row(0)]))
    r = out.collect()[0]
    assert r.H_Flags == "00000000"
    assert r.LE_Flags == "00000000"
    assert r.Fc_Flags == "00000000"
    assert r.H_Graded == 100.0 and r.LE_Graded == 200.0 and r.Fc_molar_Graded == -10.0


def test_grade_cs_flags_and_nulling(spark):
    rows = [
        flux_row(0, H=2000.0),                 # H out of bounds → HL char
        flux_row(1, LE_qc_grade=9),            # bad LE grade
        flux_row(2, Precipitation_Tot=1.0),    # rain flags all fluxes
        flux_row(3, CO2_sig_strgth_Min=0.5),   # weak CO2 signal
        flux_row(4, sonic_samples_Tot=100, Fc_samples_Tot=100),  # low coverage
        flux_row(5, door_is_open_Hst=1.0),     # site visit
        flux_row(6, H=None),                   # null flux → HL
    ]
    out = grade_cs(spark.createDataFrame(rows)).orderBy("TIMESTAMP").collect()
    assert out[0].H_Flags == "10000000" and out[0].H_Graded is None
    assert out[0].LE_Flags == "00000000" and out[0].LE_Graded == 200.0
    assert out[1].LE_Flags == "01000000" and out[1].LE_Graded is None
    assert out[2].H_Flags == "00100000" and out[2].H_Graded is None
    assert out[3].H_Flags == "00010000" and out[3].H_Graded is None
    # low samples: sonic AND irga both fail → graded null (needs sonic|irga)
    assert out[4].H_Flags == "00000110" and out[4].H_Graded is None
    assert out[5].H_Flags == "00000001" and out[5].H_Graded is None
    assert out[6].H_Flags == "10000000" and out[6].H_Graded is None


def test_grade_cs_without_door_column(spark):
    rows = [flux_row(0)._asDict() if hasattr(flux_row(0), "_asDict") else flux_row(0).asDict()]
    rows[0].pop("door_is_open_Hst")
    out = grade_cs(spark.createDataFrame([Row(**rows[0])])).collect()[0]
    # 7 chars, no door char; Good = Grade & ~HL & (sonic|irga)
    assert out.H_Flags == "0000000"
    assert out.H_Graded == 100.0


def test_grade_cs_idempotent(spark):
    df = spark.createDataFrame([flux_row(0), flux_row(1, H=2000.0)])
    once = grade_cs(df)
    twice = grade_cs(once)
    assert sorted(once.columns) == sorted(twice.columns)
    assert once.orderBy("TIMESTAMP").collect() == twice.orderBy("TIMESTAMP").collect()


def test_qc_battery_build_py4j_commands_bounded(spark):
    """Building grade_cs + met_qaqc on the full 243-column Flux layout
    sends a bounded number of py4j commands: each produced column is one
    SQL string in one projection (a Column-built battery sent ~4,100).
    One warm-up build first, so the JVM-view lookups are cached and the
    count is deterministic.

    Only the building thread's commands are counted: the ``gc.collect()``
    frees earlier tests' cyclic garbage, and py4j's finalizer thread
    sends one memory-delete per freed JavaObject while the build runs
    (one reproduction: 4,005 finalizer-thread commands beside the
    build's 67)."""
    import gc
    import threading
    from collections import Counter

    import py4j.clientserver as cs

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.qc import (
        MET_FLUX_MAPPING,
    )
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.schemas import (
        get_full_schema,
        to_canonical,
    )

    df = to_canonical(
        spark.createDataFrame([], get_full_schema("Flux", "Raw", "V40826")),
        "Flux",
        "V40826",
    )
    met_qaqc(grade_cs(df), MET_FLUX_MAPPING)
    send = cs.ClientServerConnection.send_command
    sent = Counter()

    def counting(self, command, *args, **kwargs):
        sent[threading.get_ident()] += 1
        return send(self, command, *args, **kwargs)

    gc.collect()
    gc.disable()
    cs.ClientServerConnection.send_command = counting
    try:
        out = met_qaqc(grade_cs(df), MET_FLUX_MAPPING)
    finally:
        cs.ClientServerConnection.send_command = send
        gc.enable()
    assert "Precip_Filtered" in out.columns and "Fc_Flags" in out.columns
    assert sent[threading.get_ident()] <= 400, dict(sent)
