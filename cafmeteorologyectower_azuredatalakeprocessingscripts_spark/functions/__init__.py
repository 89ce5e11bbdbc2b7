from .time import (
    day_ceil,
    day_floor,
    first_date_of_water_year,
    last_date_of_water_year,
    normalize_ts,
    ts_normalizer,
    water_year,
    water_year_of,
)
from .nulls import false_if_null, true_if_null, null_count_expr
from .sql import quote_ident, sql_and, sql_lit, with_sql_columns

__all__ = [
    "day_ceil",
    "day_floor",
    "normalize_ts",
    "ts_normalizer",
    "first_date_of_water_year",
    "last_date_of_water_year",
    "water_year",
    "water_year_of",
    "false_if_null",
    "true_if_null",
    "null_count_expr",
    "quote_ident",
    "sql_and",
    "sql_lit",
    "with_sql_columns",
]
