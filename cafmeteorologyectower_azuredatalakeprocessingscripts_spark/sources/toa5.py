"""Campbell Scientific TOA5 / processed-CSV scans (SURVEY.md §2.1 S1/S2).

TOA5 raw logger files have 4 header lines — environment line, column names,
units, aggregation type; the reference reads them with
``header=1, skiprows=[2,3], na_values='NAN'`` and *skips whole files* that
fail to parse (src/AzureDataLakeAccess.py:62-90).

Spark design: one multi-path CSV scan with an explicit schema (no
inference pass over 100 TB), ``nullValue='NAN'``, PERMISSIVE mode, then a
single filter ``to_timestamp(TIMESTAMP) IS NOT NULL``. The three
non-data header lines of every file have an unparseable first field, so
the filter drops them without any per-file driver logic — the scan stays
one distributed job regardless of file count. Corrupt *rows* are dropped
the same way (finer-grained than the reference's per-file skip; strictly
more data survives).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.errors import AnalysisException


def toa5_header_columns(spark: SparkSession, path: str) -> list[str]:
    """Column names from a TOA5 file's 2nd header line (one sample file —
    a driver-side sanity probe, not a per-file scan)."""
    first = spark.read.text(path).limit(2).collect()
    if len(first) < 2:
        raise ValueError(f"{path}: not a TOA5 file (fewer than 2 lines)")
    return [c.strip().strip('"') for c in first[1].value.split(",")]


def read_toa5(
    spark: SparkSession,
    paths: str | list[str],
    schema: T.StructType,
    ts_col: str = "TIMESTAMP",
    timestamp_format: str | None = None,
    validate_header: bool = False,
    allow_missing: bool = False,
) -> DataFrame:
    """Scan TOA5 daily files into a typed DataFrame.

    ``allow_missing=True`` returns an empty typed frame when no path
    matches (the reference's empty-directory guard,
    src/AzureDataLakeAccess.py:64-66); the default keeps Spark's
    PATH_NOT_FOUND so misconfigured globs fail loudly.

    ``schema`` binds to file columns BY POSITION (its field order must
    match the file layout — schemas.py declares registry schemas in file
    order); ``validate_header=True`` cross-checks the names against one
    sample file's header line and raises on mismatch.

    ``schema`` must declare ``ts_col`` as TimestampType — header/corrupt
    rows then surface as null timestamps and are filtered in the same
    stage (whole-stage codegen keeps this a single pass).
    """
    if validate_header:
        sample = paths if isinstance(paths, str) else paths[0]
        names = toa5_header_columns(spark, sample)
        expected = [f.name for f in schema.fields[: len(names)]]
        if names[: len(expected)] != expected:
            raise ValueError(
                "TOA5 header does not match schema order: "
                f"file has {names[:len(expected)]}, schema declares {expected}"
            )
    reader = (
        spark.read.schema(schema)
        .option("header", "false")
        .option("nullValue", "NAN")
        .option("mode", "PERMISSIVE")
    )
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    try:
        df = reader.csv(paths)
    except AnalysisException as e:
        # only the missing-path case maps to "empty frame" — schema or
        # other analysis errors must still fail loudly
        if not allow_missing or e.getCondition() != "PATH_NOT_FOUND":
            raise
        return spark.createDataFrame([], schema)
    return df.filter(F.col(ts_col).isNotNull())


def read_processed_csv(
    spark: SparkSession,
    paths: str | list[str],
    schema: T.StructType,
    ts_col: str = "TIMESTAMP",
) -> DataFrame:
    """Scan 1-header processed aggregate CSVs
    (reference ``Fast_Read(hdr=1)``, src/AzureDataLakeAccess.py:91-105)."""
    df = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("nullValue", "NAN")
        .option("mode", "PERMISSIVE")
        .csv(paths)
    )
    return df.filter(F.col(ts_col).isNotNull())
