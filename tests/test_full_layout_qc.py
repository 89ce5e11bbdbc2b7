"""Full-production-width Flux QC: run_tower_job over a 243-column V40826
TOA5 fixture, flag-string battery asserted byte-for-byte against an
independent pandas mini-oracle of the reference Grade_cs
(src/AzureDataLakeAccess.py:532-615).

test_full_schemas.py proves the wide layout BINDS correctly; this proves
no column-presence gating bug hides at production width — all 8 flag
characters must be emitted and each must flip on the right rows.
"""

from __future__ import annotations

import datetime as dt
import random

import pandas as pd
import pytest

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.config import SiteConfig
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.plans.driver import (
    run_tower_job,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.qc.grade import (
    FluxQCConfig,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.schemas import (
    full_columns,
)
from tools.synth import write_toa5

# per-column value pools chosen to hit pass / fail / null on every QC test
_POOLS = {
    "H": ["-200.0", "50.0", "1200.0", "NAN"],
    "LE": ["-200.0", "40.0", "1100.0", "NAN"],
    "Fc_molar": ["-70.0", "5.0", "30.0", "NAN"],
    # grade + sample columns are i8 in the layout: integer literals only
    "H_qc_grade": ["3", "8", "NAN"],
    "LE_qc_grade": ["2", "9", "NAN"],
    "Fc_qc_grade": ["1", "8", "NAN"],
    "Precipitation_Tot": ["0.0", "0.5", "NAN"],
    "CO2_sig_strgth_Min": ["0.65", "0.8", "NAN"],
    "H2O_sig_strgth_Min": ["0.65", "0.8", "NAN"],
    "sonic_samples_Tot": ["10000", "17000", "NAN"],
    "Fc_samples_Tot": ["10000", "17000", "NAN"],
    "door_is_open_Hst": ["0.0", "1.0", "NAN"],
}


def _write_fixture(path: str, n_rows: int = 48) -> pd.DataFrame:
    """Full-width TOA5 file with seeded per-row QC variation; returns the
    written values as a pandas frame (floats, NAN → NaN) keyed by ts."""
    cols = full_columns("FluxRaw_V40826")
    names = [n for n, _ in cols]
    assert all(c in names for c in _POOLS)
    rng = random.Random(20260813)
    rows, kept = [], []
    base = dt.datetime(2022, 6, 1)
    for i in range(n_rows):
        ts = base + dt.timedelta(minutes=30 * (i + 1))
        picks = {c: rng.choice(pool) for c, pool in _POOLS.items()}
        vals = []
        for n, t in cols:
            if n == "TIMESTAMP":
                vals.append(f'"{ts:%Y-%m-%d %H:%M:%S}"')
            elif n == "RECORD":
                vals.append(str(1000 + i))
            elif n in picks:
                vals.append(picks[n])
            elif t == "i8":
                vals.append(str(i))
            elif t == "str":
                vals.append('"txt"')
            else:
                vals.append("1.5")
        rows.append(vals)
        kept.append(
            {"TIMESTAMP": ts}
            | {c: (float("nan") if v == "NAN" else float(v)) for c, v in picks.items()}
        )
    write_toa5(path, names, rows, "Flux")
    return pd.DataFrame(kept).set_index("TIMESTAMP")


def _reference_oracle(pdf: pd.DataFrame, cfg: FluxQCConfig) -> pd.DataFrame:
    """Independent pandas replay of the reference flag battery
    (src/AzureDataLakeAccess.py:532-615): one '0'/'1' char appended per
    test in fixed order; composite Good nulls the graded copy. pandas
    NaN comparisons coerce to False — a null sensor value fails its
    test — which is exactly the semantics grade.py encodes explicitly."""
    bounds = [cfg.h_bounds, cfg.le_bounds, cfg.fc_bounds]
    bit = lambda ok: (~ok).map({True: "1", False: "0"})
    precip_ok = pdf["Precipitation_Tot"] < 0.001
    c_sig = pdf["CO2_sig_strgth_Min"] > 0.7
    w_sig = pdf["H2O_sig_strgth_Min"] > 0.7
    sonic = pdf["sonic_samples_Tot"] > 14400
    irga = pdf["Fc_samples_Tot"] > 14400
    door = pdf["door_is_open_Hst"] == 0
    out = {}
    for k, flux in enumerate(cfg.flux_cols):
        f = pdf[flux]
        hl = (f < bounds[k][0]) | (f > bounds[k][1]) | f.isnull()
        grade_ok = pdf[cfg.grade_cols[k]] <= cfg.grade
        flags = hl.map({True: "1", False: "0"})
        for ok in (grade_ok, precip_ok, c_sig, w_sig, sonic, irga, door):
            flags = flags + bit(ok)
        good = (
            precip_ok & grade_ok & door & ~hl & c_sig & w_sig & (sonic | irga)
        )
        out[cfg.flag_cols[k]] = flags
        out[f"{flux}_Graded"] = f.where(good)
    return pd.DataFrame(out)


def test_full_layout_flux_qc_battery_matches_reference_oracle(spark, tmp_path):
    fixture = str(tmp_path / "CookEast_Flux_2022_06_01_0000.dat")
    inputs = _write_fixture(fixture)
    cfg = SiteConfig(site="CookEast")
    out = run_tower_job(
        spark,
        cfg,
        "Flux",
        fixture,
        qc=True,
        full_layout=True,
        start_date=dt.date(2022, 6, 1),
        end_date=dt.date(2022, 6, 2),
    )
    got = out.toPandas().set_index("TIMESTAMP")
    # the pipeline gap-fills to day boundaries; compare on the 48 real
    # ticks (padded spine rows have no RECORD and all-null sensors)
    got = got.loc[inputs.index]
    want = _reference_oracle(inputs, cfg.qc)

    for fcol in cfg.qc.flag_cols:
        assert list(got[fcol]) == list(want[fcol]), fcol
        # all 8 tests present at production width
        assert set(map(len, got[fcol])) == {8}, fcol
    for flux in cfg.qc.flux_cols:
        g = got[f"{flux}_Graded"].astype(float)
        w = want[f"{flux}_Graded"].astype(float)
        assert ((g == w) | (g.isnull() & w.isnull())).all(), flux
