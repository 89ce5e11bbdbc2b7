"""End-to-end drive of the package surface: TOA5 raw files on disk ->
aggregate_pipeline -> partitioned parquet output -> read back.

Run: python tools/verify_pipeline.py — prints [scan] [sink] [spine]
[dedup] [qc] [probe] [gapfill] [resample] evidence lines, then DONE."""

import datetime as dt
import glob
import os
import random
import shutil
import sys
import tempfile

if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.session import get_spark
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.schemas import get_schema
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.sources import read_toa5, write_partitioned
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.plans import aggregate_pipeline
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.functions import water_year
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.operators import resolve_window, CrossWaterYearError
from pyspark.sql import functions as F
from tools.synth import write_toa5

COLS = ["TIMESTAMP", "RECORD", "H", "LE", "Fc_molar", "u_star",
        "amb_tmpr_Avg", "RH_Avg", "amb_press_Avg", "rslt_wnd_spd",
        "wnd_dir_compass", "Precipitation_Tot", "PAR_density_Avg",
        "Rn_meas_Avg", "VPD_air", "e_Avg", "e_sat_Avg",
        "CO2_sig_strgth_Min", "H2O_sig_strgth_Min", "door_is_open_Hst",
        "H_qc_grade", "LE_qc_grade", "Fc_qc_grade",
        "sonic_samples_Tot", "Fc_samples_Tot"]


def toa5_file(path, day, start_rec, ticks, spike_at=None, nan_at=None):
    """Write a TOA5 daily file: 4 header lines then 30-min rows."""
    rows = []
    for i in range(ticks):
        ts = dt.datetime(2022, 1, day, 0, 0) + dt.timedelta(minutes=30 * (i + 1))
        tair = 5.0 + 3 * random.random() + (20.0 if i == spike_at else 0.0)
        rh = "NAN" if i == nan_at else f"{70 + 10 * random.random():.2f}"
        row = {
            "TIMESTAMP": f'"{ts:%Y-%m-%d %H:%M:%S}"', "RECORD": start_rec + i,
            "H": f"{50 + 10 * random.random():.2f}", "LE": f"{80 + 10 * random.random():.2f}",
            "Fc_molar": f"{-5 + random.random():.3f}", "u_star": "0.3",
            "amb_tmpr_Avg": f"{tair:.2f}", "RH_Avg": rh,
            "amb_press_Avg": "95.1", "rslt_wnd_spd": "4.2", "wnd_dir_compass": "210.0",
            "Precipitation_Tot": "0", "PAR_density_Avg": "120.5", "Rn_meas_Avg": "60.1",
            "VPD_air": "1.1", "e_Avg": "1.2", "e_sat_Avg": "2.2",
            "CO2_sig_strgth_Min": "0.9", "H2O_sig_strgth_Min": "0.85",
            "door_is_open_Hst": "0", "H_qc_grade": "3", "LE_qc_grade": "4",
            "Fc_qc_grade": "3", "sonic_samples_Tot": "17500", "Fc_samples_Tot": "17600",
        }
        rows.append([row[c] for c in COLS])
    write_toa5(path, COLS, rows, "Flux")


def main() -> None:
    workdir = tempfile.mkdtemp(prefix="caf_verify_")
    rawdir = os.path.join(workdir, "raw", "2022", "01")
    outdir = os.path.join(workdir, "out")
    os.makedirs(rawdir)

    random.seed(7)
    # day 1: full day; day 2: first half only (gap to midnight), one NAN, one spike
    toa5_file(f"{rawdir}/CookEast_Flux_2022_01_01_0000.dat", 1, 1000, 48)
    toa5_file(f"{rawdir}/CookEast_Flux_2022_01_02_0000.dat", 2, 1048, 20, spike_at=10, nan_at=5)
    # overlap re-download: day 2 again with higher RECORDs and an extra NAN
    # (keep-richest dedup must prefer the ORIGINAL lower-RECORD rows)
    toa5_file(f"{rawdir}/CookEast_Flux_2022_01_02_0001.dat", 2, 9048, 20, nan_at=3)
    # corrupt junk file the scan must tolerate
    with open(f"{rawdir}/garbage.dat", "w") as f:
        f.write("this is not a TOA5 file\x00\x01 at all,,,\nnor,is,this\n")

    spark = get_spark("verify-drive", shuffle_partitions=4)
    raw = read_toa5(spark, f"{rawdir}/*.dat", get_schema("Flux"))
    print(f"[scan] rows read from raw dir (incl. corrupt + overlap files): {raw.count()}")

    agg = aggregate_pipeline(raw, table="Flux", freq_minutes=30, qc=True)
    agg = agg.withColumn("site", F.lit("CookEast")).withColumn("wateryear", water_year("TIMESTAMP"))
    write_partitioned(agg, outdir, ["site", "wateryear"])
    print("[sink] partitions:", sorted(glob.glob(f"{outdir}/*/*")))

    back = spark.read.parquet(outdir)
    n = back.count()
    print(f"[spine] output rows: {n} (expect 97 = 2 days x 48 ticks + midnight)")
    dup = back.groupBy("TIMESTAMP").count().filter("count > 1").count()
    print(f"[dedup] duplicate timestamps in output: {dup}")
    surv = back.filter(F.col("TIMESTAMP") == dt.datetime(2022, 1, 2, 2, 0)).select("RECORD").collect()
    print(f"[dedup] survivor RECORD at 2022-01-02 02:00 (want 1051, not 9051): {surv[0].RECORD}")
    gap = back.filter(F.col("TIMESTAMP") > dt.datetime(2022, 1, 2, 10, 0)).filter(F.col("RECORD").isNotNull()).count()
    print(f"[gapfill] non-null RECORD rows after day-2 data ends (want 0): {gap}")
    r = back.filter(F.col("TIMESTAMP") == dt.datetime(2022, 1, 2, 5, 30)).collect()[0]
    print(f"[qc] spike row Tair={r.amb_tmpr_Avg} Change={r.Tair_Change} Filtered={r.Tair_Filtered}")
    r2 = back.filter(F.col("TIMESTAMP") == dt.datetime(2022, 1, 2, 3, 0)).collect()[0]
    print(f"[qc] NAN-RH row: RH={r2.RH_Avg} RH_Filtered={r2.RH_Filtered} H_Flags={r2.H_Flags} LE_Flags={r2.LE_Flags}")
    r3 = back.filter(F.col("RECORD") == 1000).collect()[0]
    print(f"[qc] normal row H_Flags={r3.H_Flags} (LE grade 4<=7 ok) H_Graded={r3.H_Graded} MSLP={r3.MSLP:.3f}")

    # probe: cross-water-year window must raise
    try:
        resolve_window(dt.date(2022, 9, 1), dt.date(2022, 10, 5))
        print("[probe] cross-water-year: NO ERROR (BAD)")
    except CrossWaterYearError as e:
        print(f"[probe] cross-water-year raises: {type(e).__name__}")
    # probe: scan of a glob matching nothing
    try:
        read_toa5(spark, f"{rawdir}/nope*.dat", get_schema("Flux")).count()
        print("[probe] empty glob: no rows (ok)")
    except Exception as e:
        print(f"[probe] empty glob raises: {type(e).__name__}: {str(e)[:80]}")
    # probe: idempotent re-run — pipeline over its own output unioned with raw
    agg2 = aggregate_pipeline(raw, previous_aggregate=back.drop("site", "wateryear"), table="Flux", freq_minutes=30, qc=True)
    print(f"[probe] re-run over prev output: rows={agg2.count()} (want 97 again)")
    # probe: opt-in resample — the mid-series NAN (RH at day-2 03:00, the
    # keep-richest survivor's NAN tick) interpolates between its neighbors;
    # trailing spine ticks (no next observation) correctly stay NULL
    li = aggregate_pipeline(raw, table="Flux", freq_minutes=30, qc=False, interpolate=["RH_Avg"])
    nan_row = li.filter(F.col("TIMESTAMP") == dt.datetime(2022, 1, 2, 3, 0)).collect()[0]
    trail = li.filter(F.col("RECORD").isNull()).filter(F.col("RH_Avg_li").isNotNull()).count()
    print(f"[resample] NAN tick RH={nan_row.RH_Avg} interpolated={nan_row.RH_Avg_li} "
          f"(want non-null between neighbors); trailing ticks filled: {trail} (want 0)")
    shutil.rmtree(workdir)
    print("DONE")


if __name__ == "__main__":
    main()
