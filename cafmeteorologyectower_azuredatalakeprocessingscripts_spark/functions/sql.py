"""Helpers for building one-parse ``F.expr`` SQL strings, and the one
read of Catalyst's plan-size estimate."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame


def quote_ident(name: str) -> str:
    """Backtick-quote a column name for interpolation into SQL text.

    Backticks inside the name are doubled, so ``we`ird`` stays one
    identifier, and dots or spaces stay part of the name (``a.b`` is the
    column called ``a.b``, not field ``b`` of struct ``a``)."""
    return "`" + name.replace("`", "``") + "`"


def sql_lit(x: int | float) -> str:
    """A Python number as SQL literal text with the type the Column API
    gives it: ``int`` stays INT/BIGINT, ``float`` becomes a DOUBLE
    literal (``0.001D``). A bare ``0.001`` would parse as DECIMAL and
    change the arithmetic."""
    if isinstance(x, int):
        return str(x)
    if not math.isfinite(x):
        raise ValueError(f"no SQL literal for {x!r}")
    return f"{x!r}D"


def sql_and(*terms: str) -> str:
    """Left-deep conjunction, as Python's chained ``&`` builds it."""
    return "(" + " AND ".join(terms) + ")"


def with_sql_columns(df: DataFrame, exprs: dict[str, str]) -> DataFrame:
    """Replace-or-append one column per ``{name: sql}`` entry in ONE
    projection: same-named columns are dropped first, then the new
    columns follow the remaining ones in ``exprs`` order."""
    present = set(df.columns)
    clean = df.drop(*[c for c in exprs if c in present])
    return clean.selectExpr(
        "*", *[f"{sql} AS {quote_ident(name)}" for name, sql in exprs.items()]
    )


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst ``sizeInBytes`` estimate of ``df``, or ``None`` when the
    stats are unavailable/unknown. Plan-side only — no job, no count."""
    try:
        # py4j maps scala.math.BigInt to a Python int on some builds
        # and to a JavaObject on others — str() handles both (the
        # .toString() form raised AttributeError on the int mapping and
        # silently disabled the byte trigger; caught by the r9 gapfill
        # guard's test).
        est_bytes = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        if est_bytes >= (1 << 62):  # Long.MaxValue-ish = stats unknown
            return None
        return est_bytes
    except Exception:  # stats unavailable
        return None
