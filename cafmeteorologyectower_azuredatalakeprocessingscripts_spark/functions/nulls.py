"""Null-semantics helpers, as SQL text for one-parse ``F.expr`` builders.

pandas boolean comparisons silently coerce NaN: ``NaN >= x -> False`` but
``NaN != 0 -> True``. Spark three-valued logic returns NULL instead. The QC
library (qc/) must reproduce the pandas outcome exactly (the reference's
tests rely on it — e.g. src/AzureDataLakeAccess.py:643 spike test passes on
the first row because the lag-diff is NaN), so every comparison is wrapped
with an explicit null default.

The per-row null count is a sum of one CASE term per column. Its terms are
added as a balanced tree, not a left-deep chain: Catalyst's
``ReorderAssociativeOperator`` re-flattens the whole ``Add`` subtree at
every ``Add`` node, which is quadratic in the column count for a chain
and n log n for a balanced tree (on the 243-column Flux layout the chain
made it the costliest optimizer rule of the append plan). Integer
addition gives the same sum in any grouping.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sql import quote_ident


def false_if_null(sql: str) -> str:
    """pandas ``NaN <cmp> x -> False`` equivalent."""
    return f"coalesce({sql}, false)"


def true_if_null(sql: str) -> str:
    """pandas ``NaN != x -> True`` equivalent."""
    return f"coalesce({sql}, true)"


def _balanced_sum(terms: list[str]) -> str:
    """``terms`` joined by ``+`` as a balanced tree of depth ⌈log2 n⌉."""
    while len(terms) > 1:
        pairs = [f"({a} + {b})" for a, b in zip(terms[::2], terms[1::2])]
        terms = pairs + terms[len(pairs) * 2:]
    return terms[0]


def null_count_expr(df: DataFrame, cols: list[str] | None = None) -> Column:
    """Horizontal per-row null count (reference ``pd.isna(df).sum(1)``,
    src/AzureDataLakeAccess.py:51). Counts SQL NULL, plus NaN for
    float/double columns (pandas ``isna`` treats both the same).

    Pure projection — no shuffle. Built as ONE SQL string (one parse)
    rather than a Column term per input column: on the 243-column Flux
    layout the per-term py4j calls cost ~0.6 s of driver time per job.
    """
    cols = cols if cols is not None else df.columns
    fields = {f.name: f.dataType for f in df.schema.fields}
    terms = []
    for c in cols:
        q = quote_ident(c)
        is_missing = f"{q} IS NULL"
        if isinstance(fields.get(c), (T.DoubleType, T.FloatType)):
            is_missing += f" OR isnan({q})"
        terms.append(f"CASE WHEN {is_missing} THEN 1 ELSE 0 END")
    if not terms:
        return F.lit(0)
    return F.expr(_balanced_sum(terms))
