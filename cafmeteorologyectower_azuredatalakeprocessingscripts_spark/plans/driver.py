"""Per-(site, table) job composition — the reference driver replacement
(SURVEY.md §3.1, src/LTARCAFTowerReport.py:54-86).

The reference loops ``for table in [Flux(30min), Met(15min)]: for site in
sites:`` calling ``AccessAzure``; ``run_tower_job`` is that body as one
lazy Spark plan: schema-bound TOA5 scan → generation canonicalization →
incremental window resolution (T1-T3) → aggregate_pipeline (union, dedup,
gap fill, QC) → water-year-partitioned sink. ``run_tower_jobs`` is the
loop; it writes each table under its own ``<out_path>/<table>/`` root,
partitioned by ``site``/``wateryear`` — the per-table separation the
reference gets from its ``{Site}_{Table}_…`` filenames. Paths are plain
globs, so the same code runs on local files or ``abfss://`` URLs built by
``config.abfss_url``.
"""

from __future__ import annotations

import datetime
from collections.abc import Iterable, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import SiteConfig
from ..functions.time import water_year
from ..operators.incremental import high_watermark_date, resolve_window
from ..schemas import get_full_schema, get_schema, to_canonical
from ..sources.sinks import write_partitioned
from ..sources.toa5 import read_toa5
from .pipeline import aggregate_pipeline

_FREQ = {"Flux": 30, "Met": 15}  # src/LTARCAFTowerReport.py:24-25
_JOB_DESCRIPTION = "spark.job.description"


@contextmanager
def _job_description(spark: SparkSession, description: str):
    """Tag the jobs launched inside the block (thread-local property);
    restore the caller's description on exit, also after a raise."""
    sc = spark.sparkContext
    caller = sc.getLocalProperty(_JOB_DESCRIPTION)
    sc.setLocalProperty(_JOB_DESCRIPTION, description)
    try:
        yield
    finally:
        sc.setLocalProperty(_JOB_DESCRIPTION, caller)


def run_tower_job(
    spark: SparkSession,
    cfg: SiteConfig,
    table: str,
    raw_glob: str | list[str],
    out_path: str | None = None,
    previous_aggregate: DataFrame | None = None,
    start_date: datetime.date | None = None,
    end_date: datetime.date | None = None,
    qc: bool = True,
    bug_compat: bool = True,
    freq_minutes: int | None = None,
    ts_col: str = "TIMESTAMP",
    full_layout: bool = False,
) -> DataFrame:
    """One (site, table) incremental aggregation run.

    Window semantics follow the reference's 4-case resolution
    (src/AzureDataLakeAccess.py:349-418): the high watermark comes from
    ``previous_aggregate``, the start backs up by the 1-day reprocess
    overlap, and cross-water-year requests raise. The time predicate is
    applied directly on the scan (with month-partitioned raw zones the
    path glob already pruned most files — SURVEY §2.1 S3/S4). The
    watermark job runs only when ``start_date`` is None, the one case in
    which the window depends on it.

    Spark jobs launched inside the call carry the job description
    ``run_tower_job <site>/<table>``; the caller's description is restored
    on return or raise.
    """
    with _job_description(spark, f"run_tower_job {cfg.site}/{table}"):
        freq = freq_minutes or _FREQ.get(table, 30)
        ver = cfg.ver if cfg.ver == "V2" else "V40826"
        # full_layout reads production logger files (every column of the
        # reference layout, bound positionally); the default curated view
        # serves column-subset fixtures and tests
        schema = (
            get_full_schema(table, "Raw", ver)
            if full_layout
            else get_schema(table, "Raw", ver)
        )
        raw = to_canonical(
            read_toa5(spark, raw_glob, schema, ts_col=ts_col), table, ver
        )

        watermark = (
            high_watermark_date(previous_aggregate, ts_col)
            if previous_aggregate is not None and start_date is None
            else None
        )
        start, end = resolve_window(start_date, end_date, latest_aggregated=watermark)
        raw = raw.filter(
            F.to_date(F.col(ts_col)).between(F.lit(start), F.lit(end))
        )

        out = aggregate_pipeline(
            raw,
            previous_aggregate=previous_aggregate,
            table=table,
            freq_minutes=freq,
            ts_col=ts_col,
            qc=qc,
            flux_cfg=cfg.qc if table == "Flux" else None,
            bug_compat=bug_compat,
        )
        out = out.withColumn("site", F.lit(cfg.site)).withColumn(
            "wateryear", water_year(F.col(ts_col))
        )
        if out_path is not None:
            if previous_aggregate is not None:
                # the incremental plan usually reads the very partitions the
                # write is about to replace; materialize first so the
                # overwrite cannot delete its own input mid-scan (the
                # reference side-steps this with dated filenames,
                # src/AzureDataLakeAccess.py:479)
                out = out.localCheckpoint(eager=True)
            write_partitioned(out, out_path)
        return out


def run_tower_jobs(
    spark: SparkSession,
    configs: Iterable[SiteConfig],
    raw_glob_for: "callable",
    out_path: str,
    tables: Sequence[str] = ("Flux", "Met"),
    **kwargs,
) -> dict[tuple[str, str], DataFrame]:
    """The reference driver loop (src/LTARCAFTowerReport.py:54-86):
    every (table, site) job, each table into its own partitioned root
    ``<out_path>/<table>/``. One shared root would let the second table's
    dynamic partition overwrite delete the first table's
    ``(site, wateryear)`` partitions.
    ``raw_glob_for(cfg, table)`` supplies each job's input glob. Site
    failures don't abort the loop (the reference prints and continues,
    src/TowerReportPlots.py:30-37); errors are returned under the
    ``(site, table)`` key as the exception object."""
    results: dict[tuple[str, str], DataFrame] = {}
    for table in tables:
        table_path = f"{out_path.rstrip('/')}/{table}"
        for cfg in configs:
            try:
                results[(cfg.site, table)] = run_tower_job(
                    spark, cfg, table, raw_glob_for(cfg, table), table_path,
                    **kwargs,
                )
            except Exception as exc:  # noqa: BLE001 - per-site tolerance
                results[(cfg.site, table)] = exc
    return results
