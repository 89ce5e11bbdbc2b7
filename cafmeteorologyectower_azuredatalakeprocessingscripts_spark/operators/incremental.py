"""Incremental-ingest contract (SURVEY.md §2.10 T1-T5).

The reference implements a manual incremental protocol
(src/AzureDataLakeAccess.py:334-418):

- high-watermark = last timestamp of the latest aggregated output (T1,
  ``get_latest_date_from_file`` :315-322)
- deliberate 1-day overlap re-download; keep-richest dedup removes the
  collisions (T2, :320 + :50-54)
- the processing unit is one water year; cross-water-year requests raise
  (T3, :393-394)
- 4-case (startDate, endDate) window resolution (:349-418)

Here that contract is pure driver-side date logic (``resolve_window``)
plus one tiny Spark job (``high_watermark_date`` = max(TIMESTAMP) of the
existing output — at scale this reads only the partition of interest
thanks to site/wateryear partition pruning). ``resolve_window`` reads the
watermark only when no start date is given, so callers
(``plans.driver.run_tower_job``) run that job only then; a daily job with
explicit start and end dates launches no watermark job.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.time import (
    first_date_of_water_year,
    last_date_of_water_year,
    water_year_of,
)


class CrossWaterYearError(Exception):
    """Requested window spans two water years (reference raises at
    src/AzureDataLakeAccess.py:393-394)."""


def high_watermark_date(df: DataFrame, ts_col: str = "TIMESTAMP") -> datetime.date | None:
    """Max timestamp date of an existing aggregate (T1)."""
    row = df.agg(F.max(ts_col).alias("hw")).collect()[0]
    return row["hw"].date() if row["hw"] is not None else None


def overlap_start(watermark: datetime.date, overlap_days: int = 1) -> datetime.date:
    """Reprocess start = watermark minus overlap (T2,
    src/AzureDataLakeAccess.py:320)."""
    return watermark - datetime.timedelta(days=overlap_days)


def resolve_window(
    start_date: datetime.date | None = None,
    end_date: datetime.date | None = None,
    latest_aggregated: datetime.date | None = None,
    today: datetime.date | None = None,
    overlap_days: int = 1,
) -> tuple[datetime.date, datetime.date]:
    """4-case (start, end) resolution mirroring
    src/AzureDataLakeAccess.py:349-418.

    ``latest_aggregated`` is the high-watermark date from the existing
    output (None if no previous aggregate exists). The returned start
    already includes the ``overlap_days`` reprocess overlap when resuming
    from a watermark.
    """
    today = today or datetime.date.today()

    if start_date and end_date is None:
        # start → today, clamped to start's water year (:351-363)
        wy = water_year_of(start_date)
        end = today if water_year_of(today) == wy else last_date_of_water_year(wy)
        return start_date, end

    if start_date is None and end_date:
        # watermark (or start of end's water year) → end (:365-383)
        wy = water_year_of(end_date)
        if latest_aggregated is None:
            start = first_date_of_water_year(wy)
        else:
            start = overlap_start(latest_aggregated, overlap_days)
            if water_year_of(start) != wy:
                start = first_date_of_water_year(wy)
        return start, end_date

    if start_date and end_date:
        # both given: must share a water year (:385-394)
        if water_year_of(start_date) != water_year_of(end_date):
            raise CrossWaterYearError(
                "start and end dates fall in different water years"
            )
        return start_date, end_date

    # neither given: watermark → today, clamped to watermark's water year
    # (:396-415)
    wy_today = water_year_of(today)
    if latest_aggregated is None:
        return first_date_of_water_year(wy_today), today
    start = overlap_start(latest_aggregated, overlap_days)
    wy_start = water_year_of(start)
    end = today if wy_today == wy_start else last_date_of_water_year(wy_start)
    return start, end
