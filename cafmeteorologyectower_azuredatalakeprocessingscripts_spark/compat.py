"""Reference-named compatibility façade.

A user of the reference drives it through a handful of functions in
``AzureDataLakeAccess.py``. This module exposes the same names with the
same call shapes, mapped onto the engine's operators — DataFrames in
place of pandas frames everywhere. Intended as a migration aid: change
the import, keep the call sites, then move to the first-class API
(`plans.run_tower_job` etc.) at leisure.

| reference (file:line) | here |
|---|---|
| ``Fast_Read(filenames, hdr, idxfll, specified_dtypes)`` (src/AzureDataLakeAccess.py:62-105) | :func:`Fast_Read` |
| ``indx_fill(df, frq)`` (:39-60) | :func:`indx_fill` |
| ``wateryear()`` / first/last-date helpers (:282-332) | :func:`wateryear`, :func:`get_first_date_of_wateryear`, :func:`get_last_date_of_wateryear` |
| ``get_datetime_from_filename`` / ``get_latest_file`` (:291-312) | same names |
| ``Grade_cs(data, access)`` (:532-615) | :func:`Grade_cs` |
| ``METQC(Data, col)`` (:619-635) | :func:`METQC` |
| ``AccessAzure(Sites, col, Time, access, CEF, ...)`` (:334-418) | :func:`AccessAzure` |
"""

from __future__ import annotations

import datetime
import os
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from .config import SiteConfig
from .functions.time import (
    first_date_of_water_year,
    last_date_of_water_year,
    water_year_of,
)
from .operators.gapfill import dedup_gap_fill
from .qc.grade import grade_cs
from .qc.metqc import MET_FLUX_MAPPING, MET_MET_MAPPING, met_qaqc
from .schemas import get_full_schema
from .sources.toa5 import read_processed_csv, read_toa5


def _freq_minutes(frq: str | int) -> int:
    """'30min' / '15min' strings (src/LTARCAFTowerReport.py:24-25) or
    plain minutes."""
    if isinstance(frq, int):
        return frq
    return int(str(frq).lower().replace("min", "").strip())


def indx_fill(df: DataFrame, frq: str | int = "30min", ts_col: str = "TIMESTAMP") -> DataFrame:
    """Reference ``indx_fill`` (:39-60): keep-richest dedup of duplicate
    timestamps, then re-grid to a complete day-padded index."""
    return dedup_gap_fill(df, ts_col=ts_col, freq_minutes=_freq_minutes(frq))


def Fast_Read(
    filenames: Sequence[str] | str,
    hdr: int,
    idxfll: str | int | None = "30min",
    specified_dtypes=None,
    spark: SparkSession | None = None,
    table: str = "Flux",
    ver: str = "V40826",
) -> DataFrame:
    """Reference ``Fast_Read`` (:62-105): hdr=4 → TOA5 raw daily files,
    hdr=1 → processed aggregate CSVs; unparseable rows/files are dropped,
    then the frame is deduped + re-gridded (``idxfll``; None skips).

    ``specified_dtypes`` accepts a StructType; when omitted the full
    reference layout for (table, ver) is used."""
    spark = spark or SparkSession.active()
    paths = list(filenames) if not isinstance(filenames, str) else filenames
    schema = specified_dtypes or get_full_schema(
        table, "Raw" if hdr == 4 else "Aggregated", ver
    )
    if hdr == 4:
        df = read_toa5(spark, paths, schema, allow_missing=True)
    elif hdr == 1:
        df = read_processed_csv(spark, paths, schema)
    else:
        raise ValueError("hdr must be 4 (TOA5 raw) or 1 (processed CSV)")
    if idxfll:
        df = indx_fill(df, idxfll)
    return df


def wateryear(today: datetime.date | None = None) -> str:
    """Reference ``wateryear()`` (:282-289): the CURRENT water-year
    label as a string."""
    return str(water_year_of(today or datetime.date.today()))


def get_first_date_of_wateryear(wy: int | str) -> datetime.date:
    return first_date_of_water_year(int(wy))


def get_last_date_of_wateryear(wy: int | str) -> datetime.date:
    return last_date_of_water_year(int(wy))


def get_datetime_from_filename(f: str) -> datetime.datetime | None:
    """Trailing ``_YYYYMMDD`` stem date (:303-312)."""
    stem = os.path.splitext(os.path.basename(f))[0]
    tail = stem.rsplit("_", 1)[-1]
    try:
        return datetime.datetime.strptime(tail, "%Y%m%d")
    except ValueError:
        return None


def get_latest_file(files: Sequence[str]) -> str | None:
    """Max by filename-stem date (:291-301)."""
    dated = [(get_datetime_from_filename(f), f) for f in files]
    dated = [(d, f) for d, f in dated if d is not None]
    return max(dated)[1] if dated else None


def Grade_cs(data: DataFrame, access: Mapping | SiteConfig | None = None) -> DataFrame:
    """Reference ``Grade_cs`` (:532-615): flag strings + graded flux
    columns. ``access`` is the workbook nested dict (or a SiteConfig)."""
    if access is None:
        cfg = None
    elif isinstance(access, SiteConfig):
        cfg = access.qc
    else:
        cfg = SiteConfig.from_mapping("compat", access).qc
    return grade_cs(data, cfg)


def METQC(Data: DataFrame, col: str = "Flux") -> DataFrame:
    """Reference ``METQC`` (:619-635): the met QA/QC battery with the
    Flux- or Met-table column naming."""
    mapping = MET_FLUX_MAPPING if col == "Flux" else MET_MET_MAPPING
    return met_qaqc(Data, mapping)


def _parse_date(s: str | datetime.date | None) -> datetime.date | None:
    """The reference accepts loose date strings via dateutil
    (src/AzureDataLakeAccess.py:355, :371); cover its documented formats
    without the dependency."""
    if isinstance(s, datetime.datetime):
        # datetime subclasses date: normalize so the date-only window
        # logic in run_tower_job never mixes date and datetime
        return s.date()
    if s is None or isinstance(s, datetime.date):
        return s
    for fmt in ("%Y-%m-%d", "%m/%d/%Y", "%Y%m%d", "%m-%d-%Y"):
        try:
            return datetime.datetime.strptime(s, fmt).date()
        except ValueError:
            continue
    raise ValueError(f"unparseable date string {s!r}")


def AccessAzure(
    Sites: str,
    col: str,
    Time: str | int,
    access: Mapping | SiteConfig,
    CEF: str | None = None,
    save: bool = True,
    QC: bool = True,
    startDate: str | datetime.date | None = None,
    endDate: str | datetime.date | None = None,
    spark: SparkSession | None = None,
    raw_glob: str | list[str] | None = None,
    out_path: str | None = None,
    previous_aggregate: DataFrame | None = None,
) -> DataFrame:
    """Reference main driver function (src/AzureDataLakeAccess.py:334-
    418): download window resolution → read → aggregate → QC → save,
    one call per (site, table). Same positional call shape; the download
    loop disappears — ``raw_glob`` (or ``CEF``/``local_dir`` + ``*.dat``)
    is read directly, lake URLs included (compose
    :func:`config.month_globs` over :func:`config.abfss_url`). The
    4-case start/end/watermark resolution, 1-day reprocess overlap, and
    cross-water-year rejection are preserved via ``run_tower_job``.
    ``save=True`` writes the water-year-partitioned aggregate to
    ``out_path`` (or the config's UPLOAD path)."""
    from .plans.driver import run_tower_job

    spark = spark or SparkSession.active()
    cfg = (
        access
        if isinstance(access, SiteConfig)
        else SiteConfig.from_mapping(Sites, access)
    )
    glob = raw_glob or os.path.join(CEF or cfg.local_dir or ".", "*.dat")
    dest = (out_path or cfg.upload_path) if save else None
    if save and dest is None:
        # the reference KeyErrors on a missing UPLOAD variable — don't
        # silently skip the write a migrating user expects
        raise ValueError(
            "save=True but no destination: pass out_path= or set the "
            "config's UPLOAD path"
        )
    return run_tower_job(
        spark,
        cfg,
        col,
        glob,
        out_path=dest,
        previous_aggregate=previous_aggregate,
        start_date=_parse_date(startDate),
        end_date=_parse_date(endDate),
        qc=QC,
        freq_minutes=_freq_minutes(Time),
        # the reference reads production logger files: bind every
        # column of the full layout, not the curated subset
        full_layout=True,
    )
