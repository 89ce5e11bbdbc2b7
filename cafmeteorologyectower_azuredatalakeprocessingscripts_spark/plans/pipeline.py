"""Composed end-to-end aggregation pipeline (SURVEY.md §3.2).

Reference `AccessAzure` (src/AzureDataLakeAccess.py:334-494) runs eagerly:
read previous aggregate → download+read raw days → concat → drop
null-RECORD → dedup+gap-fill (twice!) → QC → save. Here the same
semantics build ONE lazy logical plan — union → filter → dedup → single
gap-fill → QC — that Catalyst optimizes as a whole (the reference's
double gap-fill disappears by construction, §4.1). Dedup and gap fill
are one ``dedup_gap_fill``: the spine comes from the filtered union's
keys, not from the deduped frame, so the dedup subtree is planned and
evaluated once. QC is one projection: the Grade_cs and Met_QAQC SQL
builders (``grade_cs_exprs``, ``met_qaqc_exprs``) read the schema once
and their merged ``{column: sql}`` dict is applied with one drop and one
``selectExpr``, instead of two Column-built projections.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.gapfill import dedup_gap_fill, interpolate_linear
from ..operators.unions import union_by_name
from ..functions.sql import with_sql_columns
from ..qc.grade import FluxQCConfig, grade_cs_exprs
from ..qc.metqc import MET_FLUX_MAPPING, MET_MET_MAPPING, met_qaqc_exprs


def aggregate_pipeline(
    new_raw: DataFrame,
    previous_aggregate: DataFrame | None = None,
    table: str = "Flux",
    freq_minutes: int = 30,
    ts_col: str = "TIMESTAMP",
    record_col: str = "RECORD",
    partition_cols: Sequence[str] = (),
    qc: bool = True,
    flux_cfg: FluxQCConfig | None = None,
    bug_compat: bool = True,
    interpolate: Sequence[str] = (),
) -> DataFrame:
    """union(prev, new) → drop spine remnants → keep-richest dedup →
    gap-fill to day boundaries → optional resample → optional QC.

    Mirrors src/AzureDataLakeAccess.py:457-472; ``partition_cols`` (e.g.
    ``['site']``) keep every shuffle keyed by site at scale.

    ``interpolate`` names value columns whose spine-inserted NULL ticks
    get linear interpolation (:func:`interpolate_linear`) between the
    surrounding observations. DEFAULT OFF, like the other bug-compat
    switches: the reference leaves re-gridded ticks NULL
    (src/AzureDataLakeAccess.py:57-59 — merge_iterate inserts the spine
    and never fills), so an empty tuple reproduces reference output;
    opting in is the resample step a downstream training-feature
    pipeline wants before windowed stats. Runs between gap-fill and QC
    so QC grades the resampled series. Consecutive columns share one
    (keys, ts) sort — Catalyst plans a single Exchange+Sort feeding all
    the window frames.
    """
    df = new_raw
    if previous_aggregate is not None:
        df = union_by_name([previous_aggregate, new_raw])
    # P2: drop rows padded by the previous run's gap-fill (:461)
    df = df.filter(F.col(record_col).isNotNull())
    df = dedup_gap_fill(
        df,
        ts_col=ts_col,
        freq_minutes=freq_minutes,
        partition_cols=partition_cols,
        record_col=record_col,
    )
    for value_col in interpolate:
        df = interpolate_linear(
            df,
            ts_col=ts_col,
            key_col=list(partition_cols) or None,
            value_col=value_col,
        )
    if qc:
        # one projection for the whole battery: the Flux and Met produced
        # column sets are disjoint, so merging the two dicts (Flux first)
        # gives the same column order as grade_cs then met_qaqc
        columns = df.columns
        exprs = grade_cs_exprs(columns, flux_cfg) if table == "Flux" else {}
        exprs.update(
            met_qaqc_exprs(
                columns,
                MET_FLUX_MAPPING if table == "Flux" else MET_MET_MAPPING,
                ts_col=ts_col,
                partition_cols=partition_cols,
                bug_compat=bug_compat,
            )
        )
        df = with_sql_columns(df, exprs)
    return df
