"""Golden-value pin of the QC battery: ``met_qaqc`` (Flux and Met
mappings, ``bug_compat`` on and off) and ``grade_cs`` (with and without
the door column) on one fixed 20-row frame.

The expected values were captured once and are literal: every produced
column's value per row (ordered by TIMESTAMP), the output column order
and the output ``schema.json()`` (types and nullability). The frame hits
NULL and NaN inputs, exact hard-limit boundaries (-40, 50, 103, 360,
1500, 5000, 100), a first row with no lag, RH in (100, 103], stuck
sensors, spikes at the threshold, and precipitation both zero and
positive with RH >= 90 and Tair < 0. It spans three days and two sites,
so the day-level and per-site windows are exercised.

Encoding: a boolean column is one string with a character per row
(``T`` true, ``F`` false, ``-`` NULL); other columns are lists, with NaN
as the string ``"NaN"``.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import types as T

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.qc import (
    MET_FLUX_MAPPING,
    MET_MET_MAPPING,
    grade_cs,
    met_qaqc,
)

NAN = float("nan")

_SCHEMA = (
    "TIMESTAMP timestamp, site string, amb_tmpr_Avg double, RH_Avg double, "
    "amb_press_Avg double, rslt_wnd_spd double, wnd_dir_compass double, "
    "Precipitation_Tot double, PAR_density_Avg double, Rn_meas_Avg double, "
    "VPD_air double, e_Avg double, e_sat_Avg double, e double, e_sat double, "
    "H double, LE double, Fc_molar double, H_qc_grade long, "
    "LE_qc_grade long, Fc_qc_grade long, CO2_sig_strgth_Min double, "
    "H2O_sig_strgth_Min double, sonic_samples_Tot long, "
    "Fc_samples_Tot long, door_is_open_Hst double"
)

# per-row overrides of the smooth base series (row index -> values)
_OVERRIDES = {
    1: dict(amb_tmpr_Avg=-40.0, RH_Avg=103.0, wnd_dir_compass=360.0, H=2000.0),
    2: dict(amb_tmpr_Avg=50.0, RH_Avg=100.0, amb_press_Avg=80.0, LE_qc_grade=9),
    3: dict(amb_tmpr_Avg=-41.0, RH_Avg=104.0, amb_press_Avg=100.0,
            rslt_wnd_spd=60.0, PAR_density_Avg=5000.0, Fc_qc_grade=7),
    4: dict(amb_tmpr_Avg=51.0, RH_Avg=101.5, CO2_sig_strgth_Min=0.7),
    5: dict(amb_tmpr_Avg=NAN, RH_Avg=NAN, amb_press_Avg=NAN,
            wnd_dir_compass=NAN, H2O_sig_strgth_Min=None),
    6: dict(amb_tmpr_Avg=None, RH_Avg=None, amb_press_Avg=None,
            rslt_wnd_spd=None, Precipitation_Tot=None,
            sonic_samples_Tot=14400, Fc_samples_Tot=14401),
    7: dict(amb_tmpr_Avg=-5.0, RH_Avg=95.0, Precipitation_Tot=2.0,
            sonic_samples_Tot=100, Fc_samples_Tot=100),
    8: dict(amb_tmpr_Avg=-5.0, RH_Avg=95.0, Precipitation_Tot=3.0,
            door_is_open_Hst=1.0),
    9: dict(amb_tmpr_Avg=4.0, RH_Avg=92.0, Precipitation_Tot=1.0,
            door_is_open_Hst=None),
    10: dict(amb_tmpr_Avg=19.0, RH_Avg=70.0, Precipitation_Tot=1.0, H=None),
    11: dict(Precipitation_Tot=100.0, H=-150.0, LE=1000.0, Fc_molar=20.0),
    12: dict(Precipitation_Tot=NAN, wnd_dir_compass=0.0, Rn_meas_Avg=-150.0,
             Fc_molar=-60.01),
    13: dict(Rn_meas_Avg=1500.0, VPD_air=50.0, e_Avg=NAN, e=None, LE=NAN),
    14: dict(amb_tmpr_Avg=4.0, rslt_wnd_spd=20.0, amb_press_Avg=93.1,
             H_qc_grade=None),
    15: dict(amb_tmpr_Avg=4.0, RH_Avg=75.0, amb_press_Avg=93.1,
             rslt_wnd_spd=20.0, wnd_dir_compass=150.0, PAR_density_Avg=1500.0,
             Rn_meas_Avg=260.0, VPD_air=2.0, e_Avg=1.75, e=1.85),
    16: dict(amb_tmpr_Avg=-2.0, RH_Avg=103.0, Precipitation_Tot=4.0,
             CO2_sig_strgth_Min=NAN),
    17: dict(Precipitation_Tot=0.0, RH_Avg=NAN, sonic_samples_Tot=None),
    18: dict(Precipitation_Tot=0.0005, H=NAN, LE_qc_grade=None,
             Fc_qc_grade=None),
    19: dict(amb_tmpr_Avg=-0.5, RH_Avg=90.0, Precipitation_Tot=0.25,
             H=-150.5, Fc_molar=-60.0),
}


def _rows():
    rows = []
    for i in range(20):
        r = dict(
            # 3-hourly ticks: rows 0-7 day 1, 8-15 day 2, 16-19 day 3
            TIMESTAMP=dt.datetime(2023, 1, 1) + dt.timedelta(hours=3 * i),
            site="A" if i < 12 else "B",
            amb_tmpr_Avg=5.0 + 0.25 * i,
            RH_Avg=60.0 + i,
            amb_press_Avg=90.0 + 0.125 * i,
            rslt_wnd_spd=2.0 + 0.5 * i,
            wnd_dir_compass=10.0 * i,
            Precipitation_Tot=0.0,
            PAR_density_Avg=100.0 * i,
            Rn_meas_Avg=20.0 * i - 100.0,
            VPD_air=0.5 + 0.125 * i,
            e_Avg=1.0 + 0.0625 * i,
            e_sat_Avg=2.0 + 0.0625 * i,
            e=1.1 + 0.0625 * i,
            e_sat=2.1 + 0.0625 * i,
            H=50.0 + 10.0 * i,
            LE=100.0 + 5.0 * i,
            Fc_molar=-5.0 + 0.5 * i,
            H_qc_grade=3,
            LE_qc_grade=3,
            Fc_qc_grade=3,
            CO2_sig_strgth_Min=0.9,
            H2O_sig_strgth_Min=0.9,
            sonic_samples_Tot=17000,
            Fc_samples_Tot=17000,
            door_is_open_Hst=0.0,
        )
        r.update(_OVERRIDES.get(i, {}))
        rows.append(r)
    # flat daily means for the bug_compat=False Day_Change test: e_sat_Avg
    # repeats day 1 on day 2; e_sat repeats each site's first day on its
    # second (site A: rows 0-7 then 8-11; site B: rows 12-15 then 16-19)
    for i in range(8, 16):
        rows[i]["e_sat_Avg"] = rows[i - 8]["e_sat_Avg"]
    for i in range(12):
        rows[i]["e_sat"] = (2.25, 2.5, 2.375)[i // 4]
    for i in range(16, 20):
        rows[i]["e_sat"] = rows[i - 4]["e_sat"]
    return rows


def golden_frame(spark):
    return spark.createDataFrame(_rows(), _SCHEMA)


# case name -> the QC call it pins, applied to the golden frame
CASES = {
    "met_flux_compat": lambda df: met_qaqc(df, MET_FLUX_MAPPING),
    "met_flux_fixed": lambda df: met_qaqc(df, MET_FLUX_MAPPING, bug_compat=False),
    "met_met_compat_site": lambda df: met_qaqc(
        df, MET_MET_MAPPING, partition_cols=["site"]
    ),
    "met_met_fixed_site": lambda df: met_qaqc(
        df, MET_MET_MAPPING, partition_cols=["site"], bug_compat=False
    ),
    "grade_door": lambda df: grade_cs(df),
    "grade_no_door": lambda df: grade_cs(df.drop("door_is_open_Hst")),
}


def _encode(field: T.StructField, values: list) -> str | list:
    if isinstance(field.dataType, T.BooleanType):
        return "".join("-" if v is None else ("T" if v else "F") for v in values)
    return ["NaN" if isinstance(v, float) and math.isnan(v) else v for v in values]


def capture(spark, case: str) -> dict:
    """Everything a case pins: output column order, schema JSON, and the
    encoded values of every produced column."""
    df = golden_frame(spark)
    out = CASES[case](df)
    produced = [c for c in out.columns if c not in df.columns]
    rows = out.orderBy("TIMESTAMP").collect()
    fields = {f.name: f for f in out.schema.fields}
    return {
        "columns": out.columns,
        "schema_json": out.schema.json(),
        "values": {c: _encode(fields[c], [r[c] for r in rows]) for c in produced},
    }


def _schema_json(fields: list) -> str:
    return T.StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                {"name": n, "type": t, "nullable": b, "metadata": {}}
                for n, t, b in fields
            ],
        }
    ).json()


@pytest.mark.parametrize("case", sorted(CASES))
def test_qc_battery_golden(spark, case):
    df = golden_frame(spark)
    got = capture(spark, case)
    want = GOLDEN[case]
    inputs = [
        [f.name, f.dataType.jsonValue(), f.nullable]
        for f in df.schema.fields
        if case != "grade_no_door" or f.name != "door_is_open_Hst"
    ]
    fields = inputs + [list(f) for f in want["produced"]]
    assert got["columns"] == [n for n, _, _ in fields]
    assert got["schema_json"] == _schema_json(fields)
    assert list(got["values"]) == list(want["values"])
    for col, expected in want["values"].items():
        assert got["values"][col] == expected, col



def test_met_qaqc_quotes_physical_names(spark):
    """Physical names with a dot and a backtick (and a dotted partition
    column) give the same battery as the plain names."""
    df = golden_frame(spark)
    plain = met_qaqc(
        df, MET_FLUX_MAPPING, partition_cols=["site"], bug_compat=False
    )
    odd = met_qaqc(
        df.withColumnsRenamed(
            {"amb_tmpr_Avg": "amb.tmpr", "RH_Avg": "RH`x", "site": "site.id"}
        ),
        {**MET_FLUX_MAPPING, "Tair": "amb.tmpr", "RH": "RH`x"},
        partition_cols=["site.id"],
        bug_compat=False,
    )
    produced = [c for c in plain.columns if c not in df.columns]
    assert [c for c in odd.columns if c in produced] == produced

    def rows(out):
        return [
            tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in r)
            for r in out.orderBy("TIMESTAMP").select(*produced).collect()
        ]

    assert odd.select(*produced).schema == plain.select(*produced).schema
    assert rows(odd) == rows(plain)


GOLDEN: dict = {
    "grade_door": {
        "produced": [
            ("H_Flags", "string", False),
            ("H_Graded", "double", True),
            ("LE_Flags", "string", False),
            ("LE_Graded", "double", True),
            ("Fc_Flags", "string", False),
            ("Fc_molar_Graded", "double", True),
        ],
        "values": {
            "H_Flags": [
                "00000000", "10000000", "00000000", "00000000", "00010000", "00001000",
                "00100100", "00100110", "00100001", "00100001", "10100000", "00100000",
                "00100000", "00000000", "01000000", "00000000", "00100000", "00000100",
                "10000000", "10100000",
            ],
            "H_Graded": [
                50.0, None, 70.0, 80.0, None, None, None, None, None, None, None, None,
                None, 180.0, None, 200.0, None, 220.0, None, None,
            ],
            "LE_Flags": [
                "00000000", "00000000", "01000000", "00000000", "00010000", "00001000",
                "00100100", "00100110", "00100001", "00100001", "00100000", "00100000",
                "00100000", "10000000", "00000000", "00000000", "00100000", "00000100",
                "01000000", "00100000",
            ],
            "LE_Graded": [
                100.0, 105.0, None, 115.0, None, None, None, None, None, None, None,
                None, None, None, 170.0, 175.0, None, 185.0, None, None,
            ],
            "Fc_Flags": [
                "00000000", "00000000", "00000000", "00000000", "00010000", "00001000",
                "00100100", "00100110", "00100001", "00100001", "00100000", "00100000",
                "10100000", "00000000", "00000000", "00000000", "00100000", "00000100",
                "01000000", "00100000",
            ],
            "Fc_molar_Graded": [
                -5.0, -4.5, -4.0, -3.5, None, None, None, None, None, None, None, None,
                None, 1.5, 2.0, 2.5, None, 3.5, None, None,
            ],
        },
    },
    "grade_no_door": {
        "produced": [
            ("H_Flags", "string", False),
            ("H_Graded", "double", True),
            ("LE_Flags", "string", False),
            ("LE_Graded", "double", True),
            ("Fc_Flags", "string", False),
            ("Fc_molar_Graded", "double", True),
        ],
        "values": {
            "H_Flags": [
                "0000000", "1000000", "0000000", "0000000", "0001000", "0000100",
                "0010010", "0010011", "0010000", "0010000", "1010000", "0010000",
                "0010000", "0000000", "0100000", "0000000", "0010000", "0000010",
                "1000000", "1010000",
            ],
            "H_Graded": [
                50.0, None, 70.0, 80.0, 90.0, 100.0, 110.0, None, 130.0, 140.0, None,
                -150.0, 170.0, 180.0, None, 200.0, 210.0, 220.0, None, None,
            ],
            "LE_Flags": [
                "0000000", "0000000", "0100000", "0000000", "0001000", "0000100",
                "0010010", "0010011", "0010000", "0010000", "0010000", "0010000",
                "0010000", "1000000", "0000000", "0000000", "0010000", "0000010",
                "0100000", "0010000",
            ],
            "LE_Graded": [
                100.0, 105.0, None, 115.0, 120.0, 125.0, 130.0, None, 140.0, 145.0,
                150.0, 1000.0, 160.0, None, 170.0, 175.0, 180.0, 185.0, None, 195.0,
            ],
            "Fc_Flags": [
                "0000000", "0000000", "0000000", "0000000", "0001000", "0000100",
                "0010010", "0010011", "0010000", "0010000", "0010000", "0010000",
                "1010000", "0000000", "0000000", "0000000", "0010000", "0000010",
                "0100000", "0010000",
            ],
            "Fc_molar_Graded": [
                -5.0, -4.5, -4.0, -3.5, -3.0, -2.5, -2.0, None, -1.0, -0.5, 0.0, 20.0,
                None, 1.5, 2.0, 2.5, 3.0, 3.5, None, -60.0,
            ],
        },
    },
    "met_flux_compat": {
        "produced": [
            ("Tair_Hard_Limit", "boolean", False),
            ("Tair_Change", "boolean", False),
            ("Tair_Day_Change", "boolean", False),
            ("RH_Hard_Limit", "boolean", False),
            ("RH_gt_100", "boolean", False),
            ("RH_Change", "boolean", False),
            ("RH_Day_Change", "boolean", False),
            ("P_Hard_Limit", "boolean", False),
            ("P_Change", "boolean", False),
            ("MSLP", "double", True),
            ("MSLP_Hard_Limit", "boolean", False),
            ("MSLP_Change", "boolean", False),
            ("WS_Hard_Limit", "boolean", False),
            ("WS_Change", "boolean", False),
            ("WS_Day_Change", "boolean", False),
            ("WD_Hard_Limit", "boolean", False),
            ("WD_Change", "boolean", False),
            ("PAR_Hard_Limit", "boolean", False),
            ("PAR_Change", "boolean", False),
            ("PAR_Day_Change", "boolean", False),
            ("Rn_Hard_Limit", "boolean", False),
            ("Rn_Change", "boolean", False),
            ("Rn_Day_Change", "boolean", False),
            ("Precip_Hard_Limit", "boolean", False),
            ("VPD_Hard_Limit", "boolean", False),
            ("VPD_Change", "boolean", False),
            ("VPD_Day_Change", "boolean", False),
            ("e_Hard_Limit", "boolean", False),
            ("e_Change", "boolean", False),
            ("e_Day_Change", "boolean", False),
            ("e_s_Hard_Limit", "boolean", False),
            ("e_s_Change", "boolean", False),
            ("e_s_Day_Change", "boolean", False),
            ("Tair_Filtered", "double", True),
            ("RH_Filtered", "double", True),
            ("P_Filtered", "double", True),
            ("WS_Filtered", "double", True),
            ("WD_Filtered", "double", True),
            ("PAR_Filtered", "double", True),
            ("Rn_Filtered", "double", True),
            ("VPD_Filtered", "double", True),
            ("e_Filtered", "double", True),
            ("e_s_Filtered", "double", True),
            ("MSLP_Filtered", "double", True),
            ("Precip_RH_gt_90", "boolean", False),
            ("Precip_Tair_lt_Zero", "boolean", False),
            ("Precip_Filtered", "double", True),
        ],
        "values": {
            "Tair_Hard_Limit": "TTTFFFFTTTTTTTTTTTTT",
            "Tair_Change": "TTFTFFTTFTFTTTTFTTTT",
            "Tair_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "RH_Hard_Limit": "TTTFTFFTTTTTTTTTTFTT",
            "RH_gt_100": "FTTFTFFFFFFFFFFFTFFF",
            "RH_Change": "FTTTTFFFFTTTTTTTTFFT",
            "RH_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "P_Hard_Limit": "TTTTTFFTTTTTTTTTTTTT",
            "P_Change": "FTTFTFFFTTTTTTTFTTTT",
            "MSLP": [
                99.02741135015319, 101.01143774850698, 86.86044605177244,
                112.13433401463107, 98.23594207098921, "NaN", None, 100.34724736187864,
                100.48527658796101, 100.29984071454857, 99.94394010166619,
                100.44628918371066, 100.57523340243367, 100.70417026547173,
                102.47369185760736, 102.47369185760736, 101.478126469946,
                101.21984457046261, 101.34874496167753, 101.83680907676349,
            ],
            "MSLP_Hard_Limit": "TTTFTFFTTTTTTTTTTTTT",
            "MSLP_Change": "FTTTTFFFTTTTTTTFTTTT",
            "WS_Hard_Limit": "TTTFTTFTTTTTTTTTTTTT",
            "WS_Change": "FTTFTTFFTTTTTTTFTTTT",
            "WS_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "WD_Hard_Limit": "TFTTTFTTTTTTTTTTTTTT",
            "WD_Change": "TTTTTTTTTTTTTTTTTTTT",
            "PAR_Hard_Limit": "TTTFTTTTTTTTTTTTTTTT",
            "PAR_Change": "FTTFTTTTTTTTTTTTTTTT",
            "PAR_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "Rn_Hard_Limit": "TTTTTTTTTTTTTTTTTTTT",
            "Rn_Change": "FTTTTTTTTTTTTFTTTTTT",
            "Rn_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "Precip_Hard_Limit": "TTTTTTFTTTTFFTTTTTTT",
            "VPD_Hard_Limit": "TTTTTTTTTTTTTFTTTTTT",
            "VPD_Change": "FTTTTTTTTTTTTFTTTTTT",
            "VPD_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "e_Hard_Limit": "TTTTTTTTTTTTTFTTTTTT",
            "e_Change": "FTTTTTTTTTTTTFFTTTTT",
            "e_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "e_s_Hard_Limit": "TTTTTTTTTTTTTTTTTTTT",
            "e_s_Change": "FTTTTTTTTTTTTTTTTTTT",
            "e_s_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "Tair_Filtered": [
                5.0, -40.0, None, None, None, None, None, -5.0, None, 4.0, None, 7.75,
                8.0, 8.25, 4.0, None, -2.0, 9.25, 9.5, -0.5,
            ],
            "RH_Filtered": [
                None, 100.0, 100.0, None, 100.0, None, None, None, None, 92.0, 70.0,
                71.0, 72.0, 73.0, 74.0, 75.0, 100.0, None, None, 90.0,
            ],
            "P_Filtered": [
                None, 90.125, 80.0, None, 90.5, None, None, None, 91.0, 91.125, 91.25,
                91.375, 91.5, 91.625, 93.1, None, 92.0, 92.125, 92.25, 92.375,
            ],
            "WS_Filtered": [
                None, 2.5, 3.0, None, 4.0, 4.5, None, None, 6.0, 6.5, 7.0, 7.5, 8.0,
                8.5, 20.0, None, 10.0, 10.5, 11.0, 11.5,
            ],
            "WD_Filtered": [
                0.0, None, 20.0, 30.0, 40.0, None, 60.0, 70.0, 80.0, 90.0, 100.0, 110.0,
                0.0, 130.0, 140.0, 150.0, 160.0, 170.0, 180.0, 190.0,
            ],
            "PAR_Filtered": [
                None, 100.0, 200.0, None, 400.0, 500.0, 600.0, 700.0, 800.0, 900.0,
                1000.0, 1100.0, 1200.0, 1300.0, 1400.0, 1500.0, 1600.0, 1700.0, 1800.0,
                1900.0,
            ],
            "Rn_Filtered": [
                None, -80.0, -60.0, -40.0, -20.0, 0.0, 20.0, 40.0, 60.0, 80.0, 100.0,
                120.0, -150.0, None, 180.0, 260.0, 220.0, 240.0, 260.0, 280.0,
            ],
            "VPD_Filtered": [
                None, 0.625, 0.75, 0.875, 1.0, 1.125, 1.25, 1.375, 1.5, 1.625, 1.75,
                1.875, 2.0, None, 2.25, 2.0, 2.5, 2.625, 2.75, 2.875,
            ],
            "e_Filtered": [
                None, 1.0625, 1.125, 1.1875, 1.25, 1.3125, 1.375, 1.4375, 1.5, 1.5625,
                1.625, 1.6875, 1.75, None, None, 1.75, 2.0, 2.0625, 2.125, 2.1875,
            ],
            "e_s_Filtered": [
                None, 2.0625, 2.125, 2.1875, 2.25, 2.3125, 2.375, 2.4375, 2.0, 2.0625,
                2.125, 2.1875, 2.25, 2.3125, 2.375, 2.4375, 3.0, 3.0625, 3.125, 3.1875,
            ],
            "MSLP_Filtered": [
                None, 101.01143774850698, 86.86044605177244, None, 98.23594207098921,
                None, None, None, 100.48527658796101, 100.29984071454857,
                99.94394010166619, 100.44628918371066, 100.57523340243367,
                100.70417026547173, 102.47369185760736, None, 101.478126469946,
                101.21984457046261, 101.34874496167753, 101.83680907676349,
            ],
            "Precip_RH_gt_90": "FFFFFFFFFTFFFFFFTFFT",
            "Precip_Tair_lt_Zero": "FFFFFFFTFFFFFFFFTFFT",
            "Precip_Filtered": [
                0.0, 0.0, 0.0, 0.0, 0.0, 0.0, None, None, None, 1.0, None, None, None,
                0.0, 0.0, 0.0, None, 0.0, None, None,
            ],
        },
    },
    "met_flux_fixed": {
        "produced": [
            ("Tair_Hard_Limit", "boolean", False),
            ("Tair_Change", "boolean", False),
            ("Tair_Day_Change", "boolean", False),
            ("RH_Hard_Limit", "boolean", False),
            ("RH_gt_100", "boolean", False),
            ("RH_Change", "boolean", False),
            ("RH_Day_Change", "boolean", False),
            ("P_Hard_Limit", "boolean", False),
            ("P_Change", "boolean", False),
            ("MSLP", "double", True),
            ("MSLP_Hard_Limit", "boolean", False),
            ("MSLP_Change", "boolean", False),
            ("WS_Hard_Limit", "boolean", False),
            ("WS_Change", "boolean", False),
            ("WS_Day_Change", "boolean", False),
            ("WD_Hard_Limit", "boolean", False),
            ("WD_Change", "boolean", False),
            ("PAR_Hard_Limit", "boolean", False),
            ("PAR_Change", "boolean", False),
            ("PAR_Day_Change", "boolean", False),
            ("Rn_Hard_Limit", "boolean", False),
            ("Rn_Change", "boolean", False),
            ("Rn_Day_Change", "boolean", False),
            ("Precip_Hard_Limit", "boolean", False),
            ("VPD_Hard_Limit", "boolean", False),
            ("VPD_Change", "boolean", False),
            ("VPD_Day_Change", "boolean", False),
            ("e_Hard_Limit", "boolean", False),
            ("e_Change", "boolean", False),
            ("e_Day_Change", "boolean", False),
            ("e_s_Hard_Limit", "boolean", False),
            ("e_s_Change", "boolean", False),
            ("e_s_Day_Change", "boolean", False),
            ("Tair_Filtered", "double", True),
            ("RH_Filtered", "double", True),
            ("P_Filtered", "double", True),
            ("WS_Filtered", "double", True),
            ("WD_Filtered", "double", True),
            ("PAR_Filtered", "double", True),
            ("Rn_Filtered", "double", True),
            ("VPD_Filtered", "double", True),
            ("e_Filtered", "double", True),
            ("e_s_Filtered", "double", True),
            ("MSLP_Filtered", "double", True),
            ("Precip_RH_gt_90", "boolean", False),
            ("Precip_Tair_lt_Zero", "boolean", False),
            ("Precip_Filtered", "double", True),
        ],
        "values": {
            "Tair_Hard_Limit": "TTTFFFFTTTTTTTTTTTTT",
            "Tair_Change": "TFFFFFTTFTFTTTTFTTTT",
            "Tair_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "RH_Hard_Limit": "TTTFTFFTTTTTTTTTTFTT",
            "RH_gt_100": "FTTFTFFFFFFFFFFFTFFF",
            "RH_Change": "FTTTTFFFFTTTTTTTTFFT",
            "RH_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "P_Hard_Limit": "TTTTTFFTTTTTTTTTTTTT",
            "P_Change": "FTFFFFFFTTTTTTTFTTTT",
            "MSLP": [
                99.02741135015319, 101.01143774850698, 86.86044605177244,
                112.13433401463107, 98.23594207098921, "NaN", None, 100.34724736187864,
                100.48527658796101, 100.29984071454857, 99.94394010166619,
                100.44628918371066, 100.57523340243367, 100.70417026547173,
                102.47369185760736, 102.47369185760736, 101.478126469946,
                101.21984457046261, 101.34874496167753, 101.83680907676349,
            ],
            "MSLP_Hard_Limit": "TTTFTFFTTTTTTTTTTTTT",
            "MSLP_Change": "FTTTTFFFTTTTTTTFTTTT",
            "WS_Hard_Limit": "TTTFTTFTTTTTTTTTTTTT",
            "WS_Change": "FTTFFTFFTTTTTTTFTTTT",
            "WS_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "WD_Hard_Limit": "TFTTTFTTTTTTTTTTTTTT",
            "WD_Change": "TTTTTTTTTTTTTTTTTTTT",
            "PAR_Hard_Limit": "TTTFTTTTTTTTTTTTTTTT",
            "PAR_Change": "FTTFFTTTTTTTTTTTTTTT",
            "PAR_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "Rn_Hard_Limit": "TTTTTTTTTTTTTTTTTTTT",
            "Rn_Change": "FTTTTTTTTTTTTFFTTTTT",
            "Rn_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "Precip_Hard_Limit": "TTTTTTFTTTTFFTTTTTTT",
            "VPD_Hard_Limit": "TTTTTTTTTTTTTFTTTTTT",
            "VPD_Change": "FTTTTTTTTTTTTFFTTTTT",
            "VPD_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "e_Hard_Limit": "TTTTTTTTTTTTTFTTTTTT",
            "e_Change": "FTTTTTTTTTTTTFFTTTTT",
            "e_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "e_s_Hard_Limit": "TTTTTTTTTTTTTTTTTTTT",
            "e_s_Change": "FTTTTTTTTTTTTTTTTTTT",
            "e_s_Day_Change": "TTTTTTTTFFFFFFFFTTTT",
            "Tair_Filtered": [
                5.0, None, None, None, None, None, None, -5.0, None, 4.0, None, 7.75,
                8.0, 8.25, 4.0, None, -2.0, 9.25, 9.5, -0.5,
            ],
            "RH_Filtered": [
                None, 100.0, 100.0, None, 100.0, None, None, None, None, 92.0, 70.0,
                71.0, 72.0, 73.0, 74.0, 75.0, 100.0, None, None, 90.0,
            ],
            "P_Filtered": [
                None, 90.125, None, None, None, None, None, None, 91.0, 91.125, 91.25,
                91.375, 91.5, 91.625, 93.1, None, 92.0, 92.125, 92.25, 92.375,
            ],
            "WS_Filtered": [
                None, 2.5, 3.0, None, None, 4.5, None, None, 6.0, 6.5, 7.0, 7.5, 8.0,
                8.5, 20.0, None, 10.0, 10.5, 11.0, 11.5,
            ],
            "WD_Filtered": [
                0.0, None, 20.0, 30.0, 40.0, None, 60.0, 70.0, 80.0, 90.0, 100.0, 110.0,
                0.0, 130.0, 140.0, 150.0, 160.0, 170.0, 180.0, 190.0,
            ],
            "PAR_Filtered": [
                None, 100.0, 200.0, None, None, 500.0, 600.0, 700.0, 800.0, 900.0,
                1000.0, 1100.0, 1200.0, 1300.0, 1400.0, 1500.0, 1600.0, 1700.0, 1800.0,
                1900.0,
            ],
            "Rn_Filtered": [
                None, -80.0, -60.0, -40.0, -20.0, 0.0, 20.0, 40.0, 60.0, 80.0, 100.0,
                120.0, -150.0, None, None, 260.0, 220.0, 240.0, 260.0, 280.0,
            ],
            "VPD_Filtered": [
                None, 0.625, 0.75, 0.875, 1.0, 1.125, 1.25, 1.375, 1.5, 1.625, 1.75,
                1.875, 2.0, None, None, 2.0, 2.5, 2.625, 2.75, 2.875,
            ],
            "e_Filtered": [
                None, 1.0625, 1.125, 1.1875, 1.25, 1.3125, 1.375, 1.4375, 1.5, 1.5625,
                1.625, 1.6875, 1.75, None, None, 1.75, 2.0, 2.0625, 2.125, 2.1875,
            ],
            "e_s_Filtered": [
                None, 2.0625, 2.125, 2.1875, 2.25, 2.3125, 2.375, 2.4375, None, None,
                None, None, None, None, None, None, 3.0, 3.0625, 3.125, 3.1875,
            ],
            "MSLP_Filtered": [
                None, 101.01143774850698, 86.86044605177244, None, 98.23594207098921,
                None, None, None, 100.48527658796101, 100.29984071454857,
                99.94394010166619, 100.44628918371066, 100.57523340243367,
                100.70417026547173, 102.47369185760736, None, 101.478126469946,
                101.21984457046261, 101.34874496167753, 101.83680907676349,
            ],
            "Precip_RH_gt_90": "FFFFFFFFFTFFFFFFTFFT",
            "Precip_Tair_lt_Zero": "FFFFFFFTFFFFFFFFTFFT",
            "Precip_Filtered": [
                0.0, 0.0, 0.0, 0.0, 0.0, 0.0, None, None, None, 1.0, None, None, None,
                0.0, 0.0, 0.0, None, 0.0, None, None,
            ],
        },
    },
    "met_met_compat_site": {
        "produced": [
            ("Tair_Hard_Limit", "boolean", False),
            ("Tair_Change", "boolean", False),
            ("Tair_Day_Change", "boolean", False),
            ("RH_Hard_Limit", "boolean", False),
            ("RH_gt_100", "boolean", False),
            ("RH_Change", "boolean", False),
            ("RH_Day_Change", "boolean", False),
            ("P_Hard_Limit", "boolean", False),
            ("P_Change", "boolean", False),
            ("MSLP", "double", True),
            ("MSLP_Hard_Limit", "boolean", False),
            ("MSLP_Change", "boolean", False),
            ("WS_Hard_Limit", "boolean", False),
            ("WS_Change", "boolean", False),
            ("WS_Day_Change", "boolean", False),
            ("WD_Hard_Limit", "boolean", False),
            ("WD_Change", "boolean", False),
            ("PAR_Hard_Limit", "boolean", False),
            ("PAR_Change", "boolean", False),
            ("PAR_Day_Change", "boolean", False),
            ("Rn_Hard_Limit", "boolean", False),
            ("Rn_Change", "boolean", False),
            ("Rn_Day_Change", "boolean", False),
            ("Precip_Hard_Limit", "boolean", False),
            ("VPD_Hard_Limit", "boolean", False),
            ("VPD_Change", "boolean", False),
            ("VPD_Day_Change", "boolean", False),
            ("e_Hard_Limit", "boolean", False),
            ("e_Change", "boolean", False),
            ("e_Day_Change", "boolean", False),
            ("e_s_Hard_Limit", "boolean", False),
            ("e_s_Change", "boolean", False),
            ("e_s_Day_Change", "boolean", False),
            ("Tair_Filtered", "double", True),
            ("RH_Filtered", "double", True),
            ("P_Filtered", "double", True),
            ("WS_Filtered", "double", True),
            ("WD_Filtered", "double", True),
            ("PAR_Filtered", "double", True),
            ("Rn_Filtered", "double", True),
            ("VPD_Filtered", "double", True),
            ("e_Filtered", "double", True),
            ("e_s_Filtered", "double", True),
            ("MSLP_Filtered", "double", True),
            ("Precip_RH_gt_90", "boolean", False),
            ("Precip_Tair_lt_Zero", "boolean", False),
            ("Precip_Filtered", "double", True),
        ],
        "values": {
            "Tair_Hard_Limit": "TTTFFFFTTTTTTTTTTTTT",
            "Tair_Change": "TTFTFFTTFTFTTTTFTTTT",
            "Tair_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "RH_Hard_Limit": "TTTFTFFTTTTTTTTTTFTT",
            "RH_gt_100": "FTTFTFFFFFFFFFFFTFFF",
            "RH_Change": "FTTTTFFFFTTTFTTTTFFT",
            "RH_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "P_Hard_Limit": "TTTTTFFTTTTTTTTTTTTT",
            "P_Change": "FTTFTFFFTTTTFTTFTTTT",
            "MSLP": [
                99.02741135015319, 101.01143774850698, 86.86044605177244,
                112.13433401463107, 98.23594207098921, "NaN", None, 100.34724736187864,
                100.48527658796101, 100.29984071454857, 99.94394010166619,
                100.44628918371066, 100.57523340243367, 100.70417026547173,
                102.47369185760736, 102.47369185760736, 101.478126469946,
                101.21984457046261, 101.34874496167753, 101.83680907676349,
            ],
            "MSLP_Hard_Limit": "TTTFTFFTTTTTTTTTTTTT",
            "MSLP_Change": "FTTTTFFFTTTTFTTFTTTT",
            "WS_Hard_Limit": "TTTFTTFTTTTTTTTTTTTT",
            "WS_Change": "FTTFTTFFTTTTFTTFTTTT",
            "WS_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "WD_Hard_Limit": "TFTTTFTTTTTTTTTTTTTT",
            "WD_Change": "TTTTTTTTTTTTTTTTTTTT",
            "PAR_Hard_Limit": "TTTFTTTTTTTTTTTTTTTT",
            "PAR_Change": "FTTFTTTTTTTTFTTTTTTT",
            "PAR_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "Rn_Hard_Limit": "TTTTTTTTTTTTTTTTTTTT",
            "Rn_Change": "FTTTTTTTTTTTFFTTTTTT",
            "Rn_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "Precip_Hard_Limit": "TTTTTTFTTTTFFTTTTTTT",
            "VPD_Hard_Limit": "TTTTTTTTTTTTTFTTTTTT",
            "VPD_Change": "FTTTTTTTTTTTFFTTTTTT",
            "VPD_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "e_Hard_Limit": "TTTTTTTTTTTTTFTTTTTT",
            "e_Change": "FTTTTTTTTTTTFFFTTTTT",
            "e_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "e_s_Hard_Limit": "TTTTTTTTTTTTTTTTTTTT",
            "e_s_Change": "FFFFTFFFTFFFFTTTTTTT",
            "e_s_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "Tair_Filtered": [
                5.0, -40.0, None, None, None, None, None, -5.0, None, 4.0, None, 7.75,
                8.0, 8.25, 4.0, None, -2.0, 9.25, 9.5, -0.5,
            ],
            "RH_Filtered": [
                None, 100.0, 100.0, None, 100.0, None, None, None, None, 92.0, 70.0,
                71.0, None, 73.0, 74.0, 75.0, 100.0, None, None, 90.0,
            ],
            "P_Filtered": [
                None, 90.125, 80.0, None, 90.5, None, None, None, 91.0, 91.125, 91.25,
                91.375, None, 91.625, 93.1, None, 92.0, 92.125, 92.25, 92.375,
            ],
            "WS_Filtered": [
                None, 2.5, 3.0, None, 4.0, 4.5, None, None, 6.0, 6.5, 7.0, 7.5, None,
                8.5, 20.0, None, 10.0, 10.5, 11.0, 11.5,
            ],
            "WD_Filtered": [
                0.0, None, 20.0, 30.0, 40.0, None, 60.0, 70.0, 80.0, 90.0, 100.0, 110.0,
                0.0, 130.0, 140.0, 150.0, 160.0, 170.0, 180.0, 190.0,
            ],
            "PAR_Filtered": [
                None, 100.0, 200.0, None, 400.0, 500.0, 600.0, 700.0, 800.0, 900.0,
                1000.0, 1100.0, None, 1300.0, 1400.0, 1500.0, 1600.0, 1700.0, 1800.0,
                1900.0,
            ],
            "Rn_Filtered": [
                None, -80.0, -60.0, -40.0, -20.0, 0.0, 20.0, 40.0, 60.0, 80.0, 100.0,
                120.0, None, None, 180.0, 260.0, 220.0, 240.0, 260.0, 280.0,
            ],
            "VPD_Filtered": [
                None, 0.625, 0.75, 0.875, 1.0, 1.125, 1.25, 1.375, 1.5, 1.625, 1.75,
                1.875, None, None, 2.25, 2.0, 2.5, 2.625, 2.75, 2.875,
            ],
            "e_Filtered": [
                None, 1.1625, 1.225, 1.2875, 1.35, 1.4125, 1.475, 1.5375, 1.6, 1.6625,
                1.725, 1.7875, None, None, None, 1.85, 2.1, 2.1625, 2.225, 2.2875,
            ],
            "e_s_Filtered": [
                None, None, None, None, 2.5, None, None, None, 2.375, None, None, None,
                None, 2.9125, 2.975, 3.0375, 2.85, 2.9125, 2.975, 3.0375,
            ],
            "MSLP_Filtered": [
                None, 101.01143774850698, 86.86044605177244, None, 98.23594207098921,
                None, None, None, 100.48527658796101, 100.29984071454857,
                99.94394010166619, 100.44628918371066, None, 100.70417026547173,
                102.47369185760736, None, 101.478126469946, 101.21984457046261,
                101.34874496167753, 101.83680907676349,
            ],
            "Precip_RH_gt_90": "FFFFFFFFFTFFFFFFTFFT",
            "Precip_Tair_lt_Zero": "FFFFFFFTFFFFFFFFTFFT",
            "Precip_Filtered": [
                0.0, 0.0, 0.0, 0.0, 0.0, 0.0, None, None, None, 1.0, None, None, None,
                0.0, 0.0, 0.0, None, 0.0, None, None,
            ],
        },
    },
    "met_met_fixed_site": {
        "produced": [
            ("Tair_Hard_Limit", "boolean", False),
            ("Tair_Change", "boolean", False),
            ("Tair_Day_Change", "boolean", False),
            ("RH_Hard_Limit", "boolean", False),
            ("RH_gt_100", "boolean", False),
            ("RH_Change", "boolean", False),
            ("RH_Day_Change", "boolean", False),
            ("P_Hard_Limit", "boolean", False),
            ("P_Change", "boolean", False),
            ("MSLP", "double", True),
            ("MSLP_Hard_Limit", "boolean", False),
            ("MSLP_Change", "boolean", False),
            ("WS_Hard_Limit", "boolean", False),
            ("WS_Change", "boolean", False),
            ("WS_Day_Change", "boolean", False),
            ("WD_Hard_Limit", "boolean", False),
            ("WD_Change", "boolean", False),
            ("PAR_Hard_Limit", "boolean", False),
            ("PAR_Change", "boolean", False),
            ("PAR_Day_Change", "boolean", False),
            ("Rn_Hard_Limit", "boolean", False),
            ("Rn_Change", "boolean", False),
            ("Rn_Day_Change", "boolean", False),
            ("Precip_Hard_Limit", "boolean", False),
            ("VPD_Hard_Limit", "boolean", False),
            ("VPD_Change", "boolean", False),
            ("VPD_Day_Change", "boolean", False),
            ("e_Hard_Limit", "boolean", False),
            ("e_Change", "boolean", False),
            ("e_Day_Change", "boolean", False),
            ("e_s_Hard_Limit", "boolean", False),
            ("e_s_Change", "boolean", False),
            ("e_s_Day_Change", "boolean", False),
            ("Tair_Filtered", "double", True),
            ("RH_Filtered", "double", True),
            ("P_Filtered", "double", True),
            ("WS_Filtered", "double", True),
            ("WD_Filtered", "double", True),
            ("PAR_Filtered", "double", True),
            ("Rn_Filtered", "double", True),
            ("VPD_Filtered", "double", True),
            ("e_Filtered", "double", True),
            ("e_s_Filtered", "double", True),
            ("MSLP_Filtered", "double", True),
            ("Precip_RH_gt_90", "boolean", False),
            ("Precip_Tair_lt_Zero", "boolean", False),
            ("Precip_Filtered", "double", True),
        ],
        "values": {
            "Tair_Hard_Limit": "TTTFFFFTTTTTTTTTTTTT",
            "Tair_Change": "TFFFFFTTFTFTTTTFTTTT",
            "Tair_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "RH_Hard_Limit": "TTTFTFFTTTTTTTTTTFTT",
            "RH_gt_100": "FTTFTFFFFFFFFFFFTFFF",
            "RH_Change": "FTTTTFFFFTTTFTTTTFFT",
            "RH_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "P_Hard_Limit": "TTTTTFFTTTTTTTTTTTTT",
            "P_Change": "FTFFFFFFTTTTFTTFTTTT",
            "MSLP": [
                99.02741135015319, 101.01143774850698, 86.86044605177244,
                112.13433401463107, 98.23594207098921, "NaN", None, 100.34724736187864,
                100.48527658796101, 100.29984071454857, 99.94394010166619,
                100.44628918371066, 100.57523340243367, 100.70417026547173,
                102.47369185760736, 102.47369185760736, 101.478126469946,
                101.21984457046261, 101.34874496167753, 101.83680907676349,
            ],
            "MSLP_Hard_Limit": "TTTFTFFTTTTTTTTTTTTT",
            "MSLP_Change": "FTTTTFFFTTTTFTTFTTTT",
            "WS_Hard_Limit": "TTTFTTFTTTTTTTTTTTTT",
            "WS_Change": "FTTFFTFFTTTTFTTFTTTT",
            "WS_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "WD_Hard_Limit": "TFTTTFTTTTTTTTTTTTTT",
            "WD_Change": "TTTTTTTTTTTTTTTTTTTT",
            "PAR_Hard_Limit": "TTTFTTTTTTTTTTTTTTTT",
            "PAR_Change": "FTTFFTTTTTTTFTTTTTTT",
            "PAR_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "Rn_Hard_Limit": "TTTTTTTTTTTTTTTTTTTT",
            "Rn_Change": "FTTTTTTTTTTTFFFTTTTT",
            "Rn_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "Precip_Hard_Limit": "TTTTTTFTTTTFFTTTTTTT",
            "VPD_Hard_Limit": "TTTTTTTTTTTTTFTTTTTT",
            "VPD_Change": "FTTTTTTTTTTTFFFTTTTT",
            "VPD_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "e_Hard_Limit": "TTTTTTTTTTTTTFTTTTTT",
            "e_Change": "FTTTTTTTTTTTFFFTTTTT",
            "e_Day_Change": "TTTTTTTTTTTTTTTTTTTT",
            "e_s_Hard_Limit": "TTTTTTTTTTTTTTTTTTTT",
            "e_s_Change": "FFFFTFFFTFFFFTTTTTTT",
            "e_s_Day_Change": "TTTTTTTTFFFFTTTTFFFF",
            "Tair_Filtered": [
                5.0, None, None, None, None, None, None, -5.0, None, 4.0, None, 7.75,
                8.0, 8.25, 4.0, None, -2.0, 9.25, 9.5, -0.5,
            ],
            "RH_Filtered": [
                None, 100.0, 100.0, None, 100.0, None, None, None, None, 92.0, 70.0,
                71.0, None, 73.0, 74.0, 75.0, 100.0, None, None, 90.0,
            ],
            "P_Filtered": [
                None, 90.125, None, None, None, None, None, None, 91.0, 91.125, 91.25,
                91.375, None, 91.625, 93.1, None, 92.0, 92.125, 92.25, 92.375,
            ],
            "WS_Filtered": [
                None, 2.5, 3.0, None, None, 4.5, None, None, 6.0, 6.5, 7.0, 7.5, None,
                8.5, 20.0, None, 10.0, 10.5, 11.0, 11.5,
            ],
            "WD_Filtered": [
                0.0, None, 20.0, 30.0, 40.0, None, 60.0, 70.0, 80.0, 90.0, 100.0, 110.0,
                0.0, 130.0, 140.0, 150.0, 160.0, 170.0, 180.0, 190.0,
            ],
            "PAR_Filtered": [
                None, 100.0, 200.0, None, None, 500.0, 600.0, 700.0, 800.0, 900.0,
                1000.0, 1100.0, None, 1300.0, 1400.0, 1500.0, 1600.0, 1700.0, 1800.0,
                1900.0,
            ],
            "Rn_Filtered": [
                None, -80.0, -60.0, -40.0, -20.0, 0.0, 20.0, 40.0, 60.0, 80.0, 100.0,
                120.0, None, None, None, 260.0, 220.0, 240.0, 260.0, 280.0,
            ],
            "VPD_Filtered": [
                None, 0.625, 0.75, 0.875, 1.0, 1.125, 1.25, 1.375, 1.5, 1.625, 1.75,
                1.875, None, None, None, 2.0, 2.5, 2.625, 2.75, 2.875,
            ],
            "e_Filtered": [
                None, 1.1625, 1.225, 1.2875, 1.35, 1.4125, 1.475, 1.5375, 1.6, 1.6625,
                1.725, 1.7875, None, None, None, 1.85, 2.1, 2.1625, 2.225, 2.2875,
            ],
            "e_s_Filtered": [
                None, None, None, None, 2.5, None, None, None, None, None, None, None,
                None, 2.9125, 2.975, 3.0375, None, None, None, None,
            ],
            "MSLP_Filtered": [
                None, 101.01143774850698, 86.86044605177244, None, 98.23594207098921,
                None, None, None, 100.48527658796101, 100.29984071454857,
                99.94394010166619, 100.44628918371066, None, 100.70417026547173,
                102.47369185760736, None, 101.478126469946, 101.21984457046261,
                101.34874496167753, 101.83680907676349,
            ],
            "Precip_RH_gt_90": "FFFFFFFFFTFFFFFFTFFT",
            "Precip_Tair_lt_Zero": "FFFFFFFTFFFFFFFFTFFT",
            "Precip_Filtered": [
                0.0, 0.0, 0.0, 0.0, 0.0, 0.0, None, None, None, 1.0, None, None, None,
                0.0, 0.0, 0.0, None, 0.0, None, None,
            ],
        },
    },
}
