"""run_tower_job / run_tower_jobs: the reference-driver replacement
(S1→pipeline→sink composition with incremental window resolution)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.config import SiteConfig
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.plans import (
    run_tower_job,
    run_tower_jobs,
)
from tools.synth import write_toa5

_COLS = [
    "TIMESTAMP", "RECORD", "H", "LE", "Fc_molar", "u_star",
    "amb_tmpr_Avg", "RH_Avg", "amb_press_Avg", "rslt_wnd_spd",
    "wnd_dir_compass", "Precipitation_Tot", "PAR_density_Avg",
    "Rn_meas_Avg", "VPD_air", "e_Avg", "e_sat_Avg",
    "CO2_sig_strgth_Min", "H2O_sig_strgth_Min", "door_is_open_Hst",
    "H_qc_grade", "LE_qc_grade", "Fc_qc_grade",
    "sonic_samples_Tot", "Fc_samples_Tot",
]


def _toa5(
    path: str, day: int, start_rec: int, ticks: int,
    year: int = 2022, month: int = 1,
) -> None:
    rows = []
    for i in range(ticks):
        ts = dt.datetime(year, month, day) + dt.timedelta(minutes=30 * (i + 1))
        vals = {c: "1.0" for c in _COLS}
        vals.update(
            TIMESTAMP=f'"{ts:%Y-%m-%d %H:%M:%S}"',
            RECORD=str(start_rec + i),
            RH_Avg="71.0", amb_tmpr_Avg="5.5", amb_press_Avg="95.0",
            H_qc_grade="3", LE_qc_grade="4", Fc_qc_grade="3",
            sonic_samples_Tot="17000", Fc_samples_Tot="17000",
            CO2_sig_strgth_Min="0.9", H2O_sig_strgth_Min="0.9",
            door_is_open_Hst="0", Precipitation_Tot="0",
        )
        rows.append([vals[c] for c in _COLS])
    write_toa5(path, _COLS, rows, "Flux")


@pytest.fixture()
def rawdir(tmp_path):
    d = tmp_path / "raw" / "2022" / "01"
    os.makedirs(d)
    _toa5(str(d / "CookEast_Flux_2022_01_01_0000.dat"), 1, 1000, 48)
    _toa5(str(d / "CookEast_Flux_2022_01_02_0000.dat"), 2, 1048, 24)
    return str(d)


def test_run_tower_job_end_to_end(spark, tmp_path, rawdir):
    cfg = SiteConfig(site="CookEast")
    out_path = str(tmp_path / "out")
    df = run_tower_job(
        spark, cfg, "Flux", f"{rawdir}/*.dat", out_path,
        start_date=dt.date(2022, 1, 1), end_date=dt.date(2022, 1, 31),
    )
    # spine: 2 full days of 30-min ticks + midnight boundary
    assert df.count() == 2 * 48 + 1
    # QC columns exist and carry flags; partition columns stamped
    row = df.filter(F.col("RECORD") == 1000).first()
    assert row["H_Flags"] is not None
    assert row["site"] == "CookEast" and row["wateryear"] == 2022
    # sink wrote the (site, wateryear) partition
    back = spark.read.parquet(out_path)
    assert back.filter(
        (F.col("site") == "CookEast") & (F.col("wateryear") == 2022)
    ).count() == 2 * 48 + 1


def test_run_tower_job_incremental_resume(spark, tmp_path, rawdir):
    cfg = SiteConfig(site="CookEast")
    out_path = str(tmp_path / "out")
    first = run_tower_job(
        spark, cfg, "Flux", f"{rawdir}/*.dat", out_path,
        start_date=dt.date(2022, 1, 1), end_date=dt.date(2022, 1, 1),
    )
    assert first.count() == 48 + 1
    prev = spark.read.parquet(out_path)
    # resume with no explicit dates: watermark from prev, 1-day overlap,
    # clamp to the water year — day 2 rows join, no duplicates
    resumed = run_tower_job(
        spark, cfg, "Flux", f"{rawdir}/*.dat", out_path,
        previous_aggregate=prev,
        end_date=dt.date(2022, 1, 31),
    )
    assert resumed.count() == 2 * 48 + 1
    ts = [r["TIMESTAMP"] for r in resumed.select("TIMESTAMP").collect()]
    assert len(ts) == len(set(ts))


def test_run_tower_jobs_tolerates_site_failure(spark, tmp_path, rawdir):
    good = SiteConfig(site="CookEast")
    bad = SiteConfig(site="BoydNorth")  # no files → AnalysisException

    def glob_for(cfg, table):
        return f"{rawdir}/{cfg.site}_*.dat"

    results = run_tower_jobs(
        spark, [good, bad], glob_for, str(tmp_path / "out"),
        tables=("Flux",),
        start_date=dt.date(2022, 1, 1), end_date=dt.date(2022, 1, 31),
    )
    assert results[("CookEast", "Flux")].count() == 2 * 48 + 1
    assert isinstance(results[("BoydNorth", "Flux")], Exception)


def test_run_tower_job_on_fake_lake_layout(spark, tmp_path):
    """file://-backed fake of the ADLS month-partitioned layout: the SAME
    month_globs the job would aim at abfss:// (via config.abfss_url),
    rooted at a local directory — proving S3's plan-time pruning and the
    whole job composition need no SDK download loop. A month folder
    OUTSIDE the glob window and a corrupt .dat INSIDE it prove pruning
    and scan tolerance respectively."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.config import (
        abfss_url,
        month_globs,
    )

    cfg = SiteConfig(site="CookEast", storage_account="acct", file_system="rawzone")
    # the lake URL form of the same globs (string-level check only — no
    # network in this container)
    url = abfss_url(cfg, "CookEast", "Flux")
    assert url == "abfss://rawzone@acct.dfs.core.windows.net/CookEast/Flux"
    assert month_globs(url, dt.date(2021, 12, 31), dt.date(2022, 1, 31)) == [
        f"{url}/2021/12/*.dat",
        f"{url}/2022/01/*.dat",
    ]

    # identical layout on local disk; December→January crosses the
    # calendar-year folder rollover inside one water year
    base = tmp_path / "lake" / "rawzone" / "CookEast" / "Flux"
    for sub in ("2021/12", "2022/01", "2022/02"):
        (base / sub).mkdir(parents=True)
    _toa5(str(base / "2021/12/CookEast_Flux_2021_12_31_0000.dat"),
          31, 500, 48, year=2021, month=12)
    _toa5(str(base / "2022/01/CookEast_Flux_2022_01_01_0000.dat"), 1, 1000, 48)
    # outside the glob window — must be pruned at plan time
    _toa5(str(base / "2022/02/CookEast_Flux_2022_02_01_0000.dat"),
          1, 2000, 48, month=2)
    # corrupt file inside the window — scan drops its rows
    (base / "2022/01/CookEast_Flux_junk.dat").write_text("not,a,toa5\n1,2,3\n")

    globs = month_globs(f"file://{base}", dt.date(2021, 12, 31), dt.date(2022, 1, 31))
    out_path = str(tmp_path / "out")
    df = run_tower_job(
        spark, cfg, "Flux", globs, out_path,
        start_date=dt.date(2021, 12, 31), end_date=dt.date(2022, 1, 31),
    )
    # spine: Dec 31 00:00 → Jan 2 00:00 boundary = 2 days × 48 + 1
    assert df.count() == 2 * 48 + 1
    recs = {r["RECORD"] for r in df.select("RECORD").collect()}
    assert 500 in recs and 1000 in recs   # both month folders scanned
    assert 2000 not in recs               # February pruned by the glob
    assert df.filter(F.month("TIMESTAMP") == 2).count() == 0
    # single water year spans the calendar rollover; sink partition there
    assert {r["wateryear"] for r in df.select("wateryear").collect()} == {2022}
    back = spark.read.parquet(out_path)
    assert back.filter(
        (F.col("site") == "CookEast") & (F.col("wateryear") == 2022)
    ).count() == 2 * 48 + 1


_MET_COLS = [
    "TIMESTAMP", "RECORD", "amb_tmpr_Avg", "RH_Avg", "amb_press_Avg",
    "rslt_wnd_spd", "wnd_dir_compass", "Precipitation_Tot",
    "PAR_density_Avg", "Rn_meas_Avg", "VPD_air", "e", "e_sat",
]


def _toa5_met(path: str, day: int, ticks: int) -> None:
    rows = []
    for i in range(ticks):
        ts = dt.datetime(2022, 2, day) + dt.timedelta(minutes=15 * (i + 1))
        # values must VARY tick to tick or the stuck-sensor (diff != 0)
        # test legitimately nulls the filtered columns
        vals = {c: "1.0" for c in _MET_COLS}
        vals.update(
            TIMESTAMP=f'"{ts:%Y-%m-%d %H:%M:%S}"', RECORD=str(100 + i),
            amb_tmpr_Avg=f"{4.5 + 0.1 * (i % 7):.2f}",
            RH_Avg=f"{80.0 + 0.5 * (i % 5):.2f}",
            amb_press_Avg="95.0",
            Precipitation_Tot="0", rslt_wnd_spd="3.0",
            wnd_dir_compass="200.0",
        )
        rows.append([vals[c] for c in _MET_COLS])
    write_toa5(path, _MET_COLS, rows, "Met")


def test_run_tower_job_met_table(spark, tmp_path):
    d = tmp_path / "raw"
    os.makedirs(d)
    _toa5_met(str(d / "CookEast_Met_2022_02_01_0000.dat"), 1, 96)
    cfg = SiteConfig(site="CookEast")
    df = run_tower_job(
        spark, cfg, "Met", f"{d}/*.dat",
        start_date=dt.date(2022, 2, 1), end_date=dt.date(2022, 2, 28),
    )
    # 15-min spine: full day + midnight tick
    assert df.count() == 96 + 1
    # mid-day row: lag exists, values vary → filtered values survive
    row = df.filter(F.col("RECORD") == 151).first()
    assert row["Tair_Hard_Limit"] is True
    assert row["RH_Filtered"] == row["RH_Avg"]
    assert "MSLP" in df.columns


def test_run_tower_job_v2_generation(spark, tmp_path):
    # V2 flux files: column order MUST follow the registry layout
    # (positional binding) — derive the fixture from it
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.schemas import (
        FLUX_RAW_V2_COLUMNS,
    )

    cols = [c for c, _ in FLUX_RAW_V2_COLUMNS]
    d = tmp_path / "raw"
    os.makedirs(d)
    rows = []
    for i in range(48):
        ts = dt.datetime(2022, 3, 1) + dt.timedelta(minutes=30 * (i + 1))
        vals = {c: "1.0" for c in cols}
        vals.update(TIMESTAMP=f'"{ts:%Y-%m-%d %H:%M:%S}"', RECORD=str(i),
                    FC_QC="3", LE_QC="3", H_QC="3", FC_samples="15000",
                    CO2_sig_strgth_Min="0.9", H2O_sig_strgth_Min="0.9",
                    P="0", TA_1_1_1=f"{6.5 + 0.1 * (i % 3):.2f}",
                    RH_1_1_1="75.0", PA="95.0")
        rows.append([vals[c] for c in cols])
    write_toa5(str(d / "CookEast_Flux_2022_03_01_0000.dat"), cols, rows, "Flux")

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.qc.grade import (
        FluxQCConfig,
    )

    cfg = SiteConfig(
        site="CookEast", ver="V2",
        qc=FluxQCConfig(flux_cols=("H", "LE", "FC_mass")),
    )
    df = run_tower_job(
        spark, cfg, "Flux", f"{d}/*.dat",
        start_date=dt.date(2022, 3, 1), end_date=dt.date(2022, 3, 31),
    )
    # canonicalized columns drive QC + gap fill; values bound by position
    assert "amb_tmpr_Avg" in df.columns
    assert df.count() == 48 + 1
    row = df.filter(F.col("RECORD") == 0).first()
    assert row["amb_tmpr_Avg"] == 6.5  # was TA_1_1_1 in the file
    assert row["H_qc_grade"] == 3  # was H_QC
    assert row["H_Flags"] is not None


def test_run_tower_jobs_multi_site_failure_injection(spark, tmp_path, rawdir):
    """VERDICT r5 item 6: with the failing sites FIRST in the loop, the
    healthy site's partition must still be written to the shared output
    root and each failure reported under its (site, table) key — the
    reference's per-station try/except (src/TowerReportPlots.py:30-37).
    Two failure shapes: a glob matching nothing (raises → Exception in
    results) and an all-corrupt file (every row dropped by the null-ts
    filter — finer-grained than the reference's whole-file skip)."""
    corrupt_dir = tmp_path / "corrupt"
    os.makedirs(corrupt_dir)
    with open(corrupt_dir / "CookWest_Flux_2022_01_01_0000.dat", "w") as f:
        f.write("this is not\na TOA5 file\ngarbage,,,,\n1,2,3\n")

    missing = SiteConfig(site="BoydNorth")   # glob matches nothing
    corrupt = SiteConfig(site="CookWest")    # file parses to zero rows
    good = SiteConfig(site="CookEast")

    def glob_for(cfg, table):
        if cfg.site == "CookWest":
            return f"{corrupt_dir}/CookWest_*.dat"
        return f"{rawdir}/{cfg.site}_*.dat"

    out = str(tmp_path / "out")
    results = run_tower_jobs(
        spark, [missing, corrupt, good], glob_for, out,
        tables=("Flux",),
        start_date=dt.date(2022, 1, 1), end_date=dt.date(2022, 1, 31),
    )
    # failures reported, loop not aborted
    assert isinstance(results[("BoydNorth", "Flux")], Exception)
    cw = results[("CookWest", "Flux")]
    if isinstance(cw, Exception):
        pass  # acceptable: corrupt site surfaced as a reported failure
    else:
        assert cw.count() == 0  # every corrupt row dropped, no crash
    # the healthy site fully aggregated AND written despite running last
    assert results[("CookEast", "Flux")].count() == 2 * 48 + 1
    back = spark.read.parquet(f"{out}/Flux")
    assert back.filter(
        (F.col("site") == "CookEast") & (F.col("wateryear") == 2022)
    ).count() == 2 * 48 + 1
    assert back.filter(F.col("site") != "CookEast").count() == 0


def test_run_tower_jobs_both_tables_survive(spark, tmp_path, rawdir):
    """Flux and Met of one site share a (site, wateryear) partition; each
    table writes its own root, so the Met job's dynamic partition
    overwrite cannot delete the Flux output."""
    met_dir = tmp_path / "met"
    os.makedirs(met_dir)
    _toa5_met(str(met_dir / "CookEast_Met_2022_02_01_0000.dat"), 1, 96)

    def glob_for(cfg, table):
        return f"{rawdir}/*.dat" if table == "Flux" else f"{met_dir}/*.dat"

    out = str(tmp_path / "out")
    results = run_tower_jobs(
        spark, [SiteConfig(site="CookEast")], glob_for, out,
        start_date=dt.date(2022, 1, 1), end_date=dt.date(2022, 2, 28),
    )
    assert not any(isinstance(r, Exception) for r in results.values())
    for table, rows in (("Flux", 2 * 48 + 1), ("Met", 96 + 1)):
        back = spark.read.parquet(f"{out}/{table}")
        assert back.filter(
            (F.col("site") == "CookEast") & (F.col("wateryear") == 2022)
        ).count() == rows


def test_run_tower_job_explicit_window_skips_watermark(
    spark, tmp_path, rawdir, monkeypatch
):
    """Both dates given: the window does not depend on the watermark, so
    its Spark job must not run."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.plans import (
        driver,
    )

    cfg = SiteConfig(site="CookEast")
    out_path = str(tmp_path / "out")
    run_tower_job(
        spark, cfg, "Flux", f"{rawdir}/*.dat", out_path,
        start_date=dt.date(2022, 1, 1), end_date=dt.date(2022, 1, 1),
    )

    def no_watermark(*args, **kwargs):
        raise AssertionError("high_watermark_date ran with explicit dates")

    monkeypatch.setattr(driver, "high_watermark_date", no_watermark)
    resumed = run_tower_job(
        spark, cfg, "Flux", f"{rawdir}/*.dat", out_path,
        previous_aggregate=spark.read.parquet(out_path),
        start_date=dt.date(2022, 1, 1), end_date=dt.date(2022, 1, 2),
    )
    assert resumed.count() == 2 * 48 + 1


def test_run_tower_job_tags_jobs_and_restores_description(
    spark, tmp_path, rawdir, monkeypatch
):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.plans import (
        driver,
    )

    sc = spark.sparkContext
    seen = []
    pipeline = driver.aggregate_pipeline

    def spy(*args, **kwargs):
        seen.append(sc.getLocalProperty("spark.job.description"))
        return pipeline(*args, **kwargs)

    monkeypatch.setattr(driver, "aggregate_pipeline", spy)
    cfg = SiteConfig(site="CookEast")
    window = dict(start_date=dt.date(2022, 1, 1), end_date=dt.date(2022, 1, 31))
    try:
        for caller in ("caller query", None):
            sc.setJobDescription(caller)
            run_tower_job(
                spark, cfg, "Flux", f"{rawdir}/*.dat", str(tmp_path / "out"),
                **window,
            )
            assert sc.getLocalProperty("spark.job.description") == caller
            # no files match: the scan raises inside the tagged block
            with pytest.raises(AnalysisException):
                run_tower_job(
                    spark, cfg, "Flux", f"{tmp_path}/missing/*.dat", **window
                )
            assert sc.getLocalProperty("spark.job.description") == caller
    finally:
        sc.setJobDescription(None)
    assert seen == ["run_tower_job CookEast/Flux"] * 2
