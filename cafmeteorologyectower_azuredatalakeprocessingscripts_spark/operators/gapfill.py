"""Time-spine gap fill (SURVEY.md §2.3 J4).

Reference semantics (src/AzureDataLakeAccess.py:56-59): rebuild the index as
``date_range(floor(first,'D'), ceil(last,'D'), freq)`` and reindex — missing
ticks become all-null rows, and the series is padded to midnight at both
ends.

Spark design: generate the spine *distributed* — per partition group,
``sequence(day_floor(min_ts), day_ceil(max_ts), interval)`` + ``explode`` —
then LEFT JOIN the data onto the spine. No driver-side materialization, so
a 1000-site × multi-year spine never touches the driver. The join keys are
``partition_cols + ts`` so the shuffle co-locates by site; with few/no
partition cols and a small spine, AQE picks a broadcast join of the spine
side automatically.
"""

from __future__ import annotations

import warnings
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sql import plan_size_bytes
from ..functions.time import day_ceil, day_floor
from .dedup import dedup_keep_richest

# A key-less window serializes the WHOLE frame through one task; warn
# when the plan-estimated input exceeds this (a bounded per-station
# series stays far under it, a corpus-sized frame does not).
_GLOBAL_WINDOW_WARN_BYTES = 256_000_000


def _warn_if_global_window(df: DataFrame, op: str) -> None:
    """Loud foot-gun guard (VERDICT r8 #5, same pattern as semdedup's
    ``_warn_if_expr_assign_quadratic``): estimation stays plan-side
    (Catalyst ``sizeInBytes``) — no job, no count."""
    est_bytes = plan_size_bytes(df)
    # stats unavailable or unknown — stay silent, not wrong
    if est_bytes is not None and est_bytes > _GLOBAL_WINDOW_WARN_BYTES:
        warnings.warn(
            f"{op} with key_col=None plans a whole-frame single-"
            f"partition window (est. input ~{est_bytes} bytes): the "
            "entire series sorts through ONE task. Fine for a bounded "
            "per-station series; pass key_col (e.g. the site/series "
            "id) for anything corpus-sized.",
            RuntimeWarning,
            stacklevel=3,
        )


def time_spine(
    df: DataFrame,
    ts_col: str = "TIMESTAMP",
    freq_minutes: int = 15,
    partition_cols: Sequence[str] = (),
    pad_to_day: bool = True,
) -> DataFrame:
    """Complete tick grid spanning each group's [min, max] timestamp."""
    partition_cols = list(partition_cols)
    lo, hi = F.min(ts_col), F.max(ts_col)
    if pad_to_day:
        lo, hi = day_floor(lo), day_ceil(hi)
    bounds = df.groupBy(*partition_cols).agg(
        lo.alias("__lo"), hi.alias("__hi")
    )
    seq = F.sequence(
        F.col("__lo"),
        F.col("__hi"),
        F.expr(f"INTERVAL {int(freq_minutes)} MINUTES"),
    )
    return bounds.select(
        *partition_cols, F.explode(seq).alias(ts_col)
    )


def gap_fill(
    df: DataFrame,
    ts_col: str = "TIMESTAMP",
    freq_minutes: int = 15,
    partition_cols: Sequence[str] = (),
    pad_to_day: bool = True,
) -> DataFrame:
    """Left-join data onto its complete spine; missing ticks = null rows.

    Input must be unique per (partition_cols, ts) — run
    ``dedup_keep_richest`` first (the reference does the same inside
    ``indx_fill``, src/AzureDataLakeAccess.py:50-59).
    """
    spine = time_spine(df, ts_col, freq_minutes, partition_cols, pad_to_day)
    return spine.join(df, on=[*partition_cols, ts_col], how="left")


def dedup_gap_fill(
    df: DataFrame,
    ts_col: str = "TIMESTAMP",
    freq_minutes: int = 15,
    partition_cols: Sequence[str] = (),
    record_col: str | None = "RECORD",
    pad_to_day: bool = True,
) -> DataFrame:
    """``gap_fill(dedup_keep_richest(df))`` with the dedup planned once.

    ``gap_fill`` of a deduped frame builds its spine from that frame and
    joins it back: two copies of the whole dedup subtree (null count,
    Exchange, Sort, ``row_number`` Window) that AQE cannot reuse because
    they carry different columns. Dedup keeps exactly one row per
    ``(partition_cols, ts)`` key, so the key set before dedup — and with
    it every group's [min, max] ts and the spine — is the same; the spine
    here reads only the key columns of ``df``, leaving one dedup.
    """
    keys = [*partition_cols, ts_col]
    spine = time_spine(
        df.select(*keys), ts_col, freq_minutes, partition_cols, pad_to_day
    )
    deduped = dedup_keep_richest(df, keys=keys, record_col=record_col)
    return spine.join(deduped, on=keys, how="left")


def forward_fill(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    cols: list[str],
    order_tiebreak: str | None = None,
    out_suffix: str = "_ff",
) -> DataFrame:
    """Last-observation-carried-forward per series: fill NULLs in
    ``cols`` with the most recent non-null value at or before each row
    (the standard met-station gap treatment after spine insertion —
    the reference leaves spine gaps as NULL rows,
    src/AzureDataLakeAccess.py merge_iterate; this is the downstream
    fill step).

    ``F.last(ignorenulls=True)`` over an unbounded-preceding ROWS frame:
    one shuffle keyed by the series, one partition-local sort, ONE
    WindowExec computing every filled column over the same frame. The
    fill is a value SELECTION (no arithmetic), so outputs are bit-exact
    in any engine — DuckDB replays it as last_value(x IGNORE NULLS).
    """
    order = [F.col(ts_col).asc()] + (
        [F.col(order_tiebreak).asc()] if order_tiebreak else []
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for c in cols:
        out = out.withColumn(
            c + out_suffix, F.last(F.col(c), ignorenulls=True).over(w)
        )
    return out


def interpolate_linear(
    df: DataFrame,
    ts_col: str,
    key_col: str | Sequence[str] | None,
    value_col: str,
    order_tiebreak: str | None = None,
    out_col: str | None = None,
    round6: bool = True,
) -> DataFrame:
    """Linear interpolation of NULL gaps per series: each NULL gets
    ``prev + (next - prev) * (t - t_prev) / (t_next - t_prev)`` between
    its nearest non-null neighbors (by event time); rows before the
    first or after the last observation stay NULL; non-null rows pass
    through unchanged. The resample step the reference's spine fill
    deliberately skips (gaps stay NULL there,
    src/AzureDataLakeAccess.py merge_iterate) and the one a
    training-feature pipeline needs before windowed stats.

    Shape: ONE shuffle keyed by the series + one partition-local sort;
    two frames over the same (partition, order) — unbounded-preceding
    ``last(ignorenulls)`` for (prev value, prev ts) and
    unbounded-following ``first(ignorenulls)`` for (next value,
    next ts) — so Catalyst plans one Exchange + one Sort feeding both
    WindowExecs. Time deltas are exact integer micros; the single
    double expression is written identically in the oracle so IEEE
    results match bit-for-bit before the round-6.
    """
    out_col = out_col or value_col + "_li"
    # key_col: one name, a sequence of names, or None/() for a single
    # global series (whole-frame window — one task; fine for a bounded
    # per-station series, keep a key for anything corpus-sized)
    if key_col is None:
        keys: list[str] = []
    elif isinstance(key_col, str):
        keys = [key_col]
    else:
        keys = list(key_col)
    if not keys:
        _warn_if_global_window(df, "interpolate_linear")
    order = [F.col(ts_col).asc()] + (
        [F.col(order_tiebreak).asc()] if order_tiebreak else []
    )
    w_prev = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    v = F.col(value_col)
    obs_ts = F.when(v.isNotNull(), F.col(ts_col))
    with_nbrs = df.select(
        "*",
        F.last(v, ignorenulls=True).over(w_prev).alias("__pv"),
        F.last(obs_ts, ignorenulls=True).over(w_prev).alias("__pts"),
        F.first(v, ignorenulls=True).over(w_next).alias("__nv"),
        F.first(obs_ts, ignorenulls=True).over(w_next).alias("__nts"),
    )
    frac = (
        (F.unix_micros(F.col(ts_col)) - F.unix_micros(F.col("__pts")))
        * F.lit(1.0)
        / (F.unix_micros(F.col("__nts")) - F.unix_micros(F.col("__pts")))
    )
    # round6=False skips the final HALF_UP rounding and returns the raw
    # IEEE interpolation — bit-identical across engines (every term is
    # plain double arithmetic), which callers need when the inputs are
    # ALREADY 6-decimal values: midpoints between such values land
    # exactly on half-micro boundaries, where Spark's BigDecimal
    # HALF_UP and another engine's multiply-then-round disagree (the
    # flagship_interpolated query canonicalizes to floor-micros ints
    # instead, the same trick as kmeans' mean update)
    interp = F.col("__pv") + (F.col("__nv") - F.col("__pv")) * frac
    if round6:
        interp = F.round(interp, 6)
    return with_nbrs.withColumn(
        out_col, F.when(v.isNotNull(), v).otherwise(interp)
    ).drop("__pv", "__pts", "__nv", "__nts")


def scd2_intervals(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    attr_col: str,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type-2 history: collapse a change
    stream into validity intervals — one row per (key, attribute run)
    with ``valid_from`` / ``valid_to`` (NULL = current) and the run's
    ordinal. The warehouse-side complement of the reference's
    latest-file selection (S9 keeps only the newest state; SCD2 keeps
    every state with its validity window).

    Two window passes over ONE (key, order) shuffle+sort: a lag
    comparison marks run starts, a running sum numbers the runs; the
    interval bounds come from a per-run groupBy (second, smaller
    shuffle keyed by (key, run)), with ``valid_to`` = the next run's
    start via lead over the run frame. NULL-safe change detection via
    the null-safe equality operator so NULL→value transitions open a
    new run.
    """
    order = [F.col(ts_col).asc()] + (
        [F.col(order_tiebreak).asc()] if order_tiebreak else []
    )
    w = Window.partitionBy(key_col).orderBy(*order)
    changed = ~F.col(attr_col).eqNullSafe(F.lag(F.col(attr_col)).over(w))
    # the first row of each key is always a run start (its lag is NULL,
    # which eqNullSafe would treat as equal to a real NULL attr — the
    # explicit row_number()==1 disambiguates)
    is_first = F.row_number().over(w) == 1
    start = (is_first | changed).cast("int")
    run_id = F.sum(start).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = (
        df.select(
            F.col(key_col),
            F.col(ts_col),
            F.col(attr_col),
            run_id.alias("run_id"),
        )
        .groupBy(key_col, "run_id", attr_col)
        .agg(F.min(ts_col).alias("valid_from"), F.count(F.lit(1)).alias("n_rows"))
    )
    # run_id in the ordering: two runs CAN share a valid_from when the
    # attribute changes between rows with tied timestamps — valid_from
    # alone would make lead() ambiguous there
    w_runs = Window.partitionBy(key_col).orderBy(
        F.col("valid_from").asc(), F.col("run_id").asc()
    )
    return runs.select(
        key_col,
        "run_id",
        attr_col,
        "valid_from",
        F.lead("valid_from").over(w_runs).alias("valid_to"),
        "n_rows",
    )
