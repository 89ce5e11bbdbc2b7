"""Full reference-layout schemas: real-file positional binding."""

from __future__ import annotations

import datetime as dt

import pytest

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.schemas import (
    full_columns,
    get_full_schema,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.sources.toa5 import (
    read_toa5,
)
from tools.synth import write_toa5


def test_full_layout_shapes():
    flux = full_columns("FluxRaw_V40826")
    assert len(flux) == 243  # 242 dict entries + prepended TIMESTAMP
    assert flux[0] == ("TIMESTAMP", "ts")
    assert flux[1][0] == "RECORD"
    met = full_columns("MetRaw_V40826")
    assert len(met) == 54
    st = get_full_schema("Flux", "Aggregated", "V40826")
    assert len(st.fields) == 296
    # V2 layouts exist under the suffix-less names
    assert len(get_full_schema("Flux", "Raw", "V2").fields) == 92
    with pytest.raises(KeyError):
        get_full_schema("Met", "Aggregated", "V40826")


def test_full_width_toa5_roundtrip(spark, tmp_path):
    """Write a full-width (243-col) V40826 Flux file and confirm values
    land in the right NAMED columns — the positional-binding guarantee
    that makes real logger files readable."""
    cols = full_columns("FluxRaw_V40826")
    names = [n for n, _ in cols]
    i_ustar = names.index("u_star")
    i_tair = names.index("amb_tmpr_Avg")
    rows = []
    for i in range(3):
        ts = dt.datetime(2022, 1, 1) + dt.timedelta(minutes=30 * (i + 1))
        vals = []
        for j, (n, t) in enumerate(cols):
            if n == "TIMESTAMP":
                vals.append(f'"{ts:%Y-%m-%d %H:%M:%S}"')
            elif j == i_ustar:
                vals.append("0.375")
            elif j == i_tair:
                vals.append("NAN" if i == 1 else "7.25")
            elif t == "i8":
                vals.append(str(100 + i))
            elif t == "str":
                vals.append('"txt"')
            else:
                vals.append("1.5")
        rows.append(vals)
    path = str(tmp_path / "CookEast_Flux_2022_01_01_0000.dat")
    write_toa5(path, names, rows, "Flux")

    df = read_toa5(
        spark, path, get_full_schema("Flux", "Raw", "V40826"),
        validate_header=True,
    )
    got = df.orderBy("TIMESTAMP").collect()
    assert len(got) == 3
    assert all(abs(r["u_star"] - 0.375) < 1e-12 for r in got)
    assert got[0]["amb_tmpr_Avg"] == 7.25
    assert got[1]["amb_tmpr_Avg"] is None  # 'NAN' sentinel → null
    assert got[0]["RECORD"] == 100


def test_reference_aggregate_csv_roundtrip(spark, tmp_path):
    """Read a reference-produced AggregateQC CSV (1 header line, full
    296-col FluxAggregated_V40826 layout) — the file a switching user
    already has on disk."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.sources.toa5 import (
        read_processed_csv,
    )

    cols = full_columns("FluxAggregated_V40826")
    names = [n for n, _ in cols]
    i_hflags = names.index("H_Flags")
    rows = [",".join(names)]
    for i in range(2):
        ts = dt.datetime(2022, 1, 1) + dt.timedelta(minutes=30 * (i + 1))
        vals = []
        for j, (n, t) in enumerate(cols):
            if n == "TIMESTAMP":
                vals.append(f"{ts:%Y-%m-%d %H:%M:%S}")
            elif j == i_hflags:
                vals.append("010")
            elif t == "i8":
                vals.append(str(200 + i))
            elif t == "str":
                vals.append("txt")
            else:
                vals.append("2.5" if i == 0 else "NAN")
        rows.append(",".join(vals))
    path = str(tmp_path / "CookEast_Flux_AggregateQC_CY2022_V40826_20220102.csv")
    with open(path, "w") as f:
        f.write("\n".join(rows) + "\n")

    df = read_processed_csv(
        spark, path, get_full_schema("Flux", "Aggregated", "V40826")
    )
    got = df.orderBy("TIMESTAMP").collect()
    assert len(got) == 2
    assert got[0]["RECORD"] == 200
    assert got[1]["H"] is None  # NAN sentinel
    assert got[0]["H"] == 2.5
