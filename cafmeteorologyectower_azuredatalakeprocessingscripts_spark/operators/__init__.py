from .dedup import dedup_keep_richest
from .gapfill import (
    dedup_gap_fill,
    forward_fill,
    gap_fill,
    interpolate_linear,
    scd2_intervals,
    time_spine,
)
from .unions import spread, union_by_name
from .topk import latest_per_group
from .skew import salted_join
from .temporal import asof_join, range_join
from .rolling import cusum_flags, rolling_extrema_flags, trend_slope
from .layout import unpivot_measures, zorder_key2, zorder_key2_sql
from .incremental import (
    CrossWaterYearError,
    resolve_window,
    high_watermark_date,
    overlap_start,
)

__all__ = [
    "dedup_keep_richest",
    "gap_fill",
    "dedup_gap_fill",
    "time_spine",
    "forward_fill",
    "interpolate_linear",
    "scd2_intervals",
    "spread",
    "union_by_name",
    "latest_per_group",
    "salted_join",
    "asof_join",
    "range_join",
    "rolling_extrema_flags",
    "trend_slope",
    "cusum_flags",
    "unpivot_measures",
    "zorder_key2",
    "zorder_key2_sql",
    "CrossWaterYearError",
    "resolve_window",
    "high_watermark_date",
    "overlap_start",
]
