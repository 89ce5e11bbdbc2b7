"""Calendar functions: water year, day floor/ceil.

Reference semantics:
- water year (Oct 1 - Sep 30 label): month >= 10 -> year + 1, else year
  (src/AzureDataLakeAccess.py:282-289; first/last helpers :324-332).
- day floor/ceil pad a series to midnight boundaries
  (src/AzureDataLakeAccess.py:57 — pandas ``floor('D')`` / ``ceil('D')``;
  ceil leaves exact midnight unchanged).

All implemented as native Column expressions — no UDFs, fully
Catalyst-optimizable (constant folding, pushdown through them is fine).
"""

from __future__ import annotations

import datetime

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sql import quote_ident


def water_year(c: Column | str) -> Column:
    """Water-year label of a date/timestamp column (int)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.when(F.month(c) >= 10, F.year(c) + 1).otherwise(F.year(c))


def water_year_of(d: datetime.date) -> int:
    """Driver-side water year of a python date."""
    return d.year + 1 if d.month >= 10 else d.year


def first_date_of_water_year(wy: int) -> datetime.date:
    """Oct 1 of the prior calendar year (src/AzureDataLakeAccess.py:329-332)."""
    return datetime.date(wy - 1, 10, 1)


def last_date_of_water_year(wy: int) -> datetime.date:
    """Sep 30 of the water year (src/AzureDataLakeAccess.py:324-327)."""
    return datetime.date(wy, 9, 30)


def ts_normalizer(schema, col: str = "ts"):
    """THE single source of truth for normalizing an event-time column to
    session-UTC TIMESTAMP, whatever physical type the parquet shipped:

    - ``bigint`` — TIMESTAMP(NANOS) read via the ``nanosAsLong`` legacy
      conf: raw nano longs, truncated to micros (like DuckDB does).
    - ``timestamp_ntz`` — isAdjustedToUTC=false micros: cast to
      TIMESTAMP, a wall-clock identity under a UTC session zone (which
      :mod:`..session` and the entry module both force). ``unix_micros``
      / ``unix_timestamp`` / ``withWatermark`` all reject NTZ, so the
      cast is mandatory before any epoch math.
    - ``timestamp`` — already normalized.

    Returns a DataFrame transform, or None when the column is absent or
    already TIMESTAMP so callers (especially streaming, where an extra
    projection breaks schema-on-read laziness) can skip it entirely.
    """
    t = {f.name: f.dataType.simpleString() for f in schema.fields}.get(col)
    if t == "bigint":
        return lambda df: df.withColumn(
            col, F.timestamp_micros(F.expr(f"{quote_ident(col)} div 1000"))
        )
    if t == "timestamp_ntz":
        return lambda df: df.withColumn(col, F.col(col).cast("timestamp"))
    return None


def normalize_ts(df, col: str = "ts"):
    """Apply :func:`ts_normalizer` to a DataFrame (no-op when already
    TIMESTAMP or the column is absent)."""
    tr = ts_normalizer(df.schema, col)
    return tr(df) if tr is not None else df


def day_floor(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.date_trunc("DAY", c)


def day_ceil(c: Column | str) -> Column:
    """Midnight stays; anything past midnight rounds up to next midnight."""
    c = F.col(c) if isinstance(c, str) else c
    floored = F.date_trunc("DAY", c)
    return F.when(c == floored, c).otherwise(floored + F.expr("INTERVAL 1 DAY"))
