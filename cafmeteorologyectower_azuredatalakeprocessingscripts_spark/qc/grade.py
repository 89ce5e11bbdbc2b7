"""Grade_cs — flux quality grading + flag strings (SURVEY.md §2.8 W3/W4,
§2.2 P5).

Reference: src/AzureDataLakeAccess.py:532-615. For each of the three flux
variables (H, LE, Fc) it builds a string flag column by appending one
'0'/'1' character per QC test, in a fixed order, and a ``{flux}_Graded``
copy nulled where the composite verdict fails.

Character order (a char only appears if its source column exists — the
reference gates each append on column presence):

  1. bounds / null check (HL)                         :549-558
  2. turbulence grade > threshold                     :560-565
  3. precipitation during interval                    :567-572
  4. CO2 signal strength <= 0.7                       :574-579
  5. H2O signal strength <= 0.7                       :580-585
  6. sonic samples <= 14400 (80% of 10Hz x 30min)     :586-591
  7. IRGA (Fc) samples <= 14400                       :592-597
  8. door open (site visit)                           :599-604

Composite ``Good`` (:605-609): with a door column —
``Precip & Grade & Door & ~HL & c_sig & w_sig & (Sonic | IRGA)``;
without — ``Grade & ~HL & (Sonic | IRGA)``. pandas NaN comparisons
coerce to False (a null sensor value fails its test); reproduced with
explicit null defaults. (The reference's no-door branch NameErrors if the
sample columns are also absent — we treat absent sample columns as
passing instead; DECISIONS.md.)

Every produced column is ONE SQL string (:func:`grade_cs_exprs`), parsed
once, and the battery is a single projection — no joins, no shuffle.
Identifiers go through ``quote_ident``; literals are typed as the
Column API types Python numbers (``sql_lit``: floats are DOUBLE
literals, ints stay ints). The string flags stay StringType (the aggregated
schema's later 'Int64' cast is a reference quirk we do not replicate —
SURVEY.md §1.2).
"""

from __future__ import annotations

from collections.abc import Collection
from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..functions.nulls import false_if_null
from ..functions.sql import quote_ident, sql_and, sql_lit, with_sql_columns


@dataclass
class FluxQCConfig:
    """QC parameters from the config workbook (readinfo,
    src/AzureDataLakeAccess.py:521-530; template values FIXTURES.md A3)."""

    grade: int = 7
    le_bounds: tuple[float, float] = (-150.0, 1000.0)
    h_bounds: tuple[float, float] = (-150.0, 1000.0)
    fc_bounds: tuple[float, float] = (-60.0, 20.0)
    ustar: float = 0.0
    # (flux column, its grade column, its flag column) triples
    flux_cols: tuple[str, ...] = ("H", "LE", "Fc_molar")
    grade_cols: tuple[str, ...] = ("H_qc_grade", "LE_qc_grade", "Fc_qc_grade")
    flag_cols: tuple[str, ...] = ("H_Flags", "LE_Flags", "Fc_Flags")
    precip_col: str = "Precipitation_Tot"
    co2_sig_col: str = "CO2_sig_strgth_Min"
    h2o_sig_col: str = "H2O_sig_strgth_Min"
    sonic_samples_col: str = "sonic_samples_Tot"
    irga_samples_col: str = "Fc_samples_Tot"
    door_col: str = "door_is_open_Hst"
    min_samples: float = 14400.0
    sig_strength_min: float = 0.7

    def bounds_for(self, i: int) -> tuple[float, float]:
        return (self.h_bounds, self.le_bounds, self.fc_bounds)[i]

    def validate(self) -> None:
        if not 1 <= self.grade <= 9:
            raise ValueError("grade must be between 1 and 9")
        if self.ustar < 0:
            raise ValueError("ustar must be non-negative")


def _flag_char(fail: str) -> str:
    return f"CASE WHEN {fail} THEN '1' ELSE '0' END"


def grade_cs_exprs(
    columns: Collection[str], cfg: FluxQCConfig | None = None
) -> dict[str, str]:
    """``{produced column: SQL}`` of the Grade_cs battery over a frame
    with ``columns`` (used by :func:`grade_cs` and the pipeline's single
    QC projection)."""
    cfg = cfg or FluxQCConfig()
    cfg.validate()

    def dcol(name: str) -> str:
        return f"CAST({quote_ident(name)} AS DOUBLE)"

    # shared (per-row, flux-independent) tests — null ⇒ test fails,
    # matching pandas NaN coercion
    shared: dict[str, str] = {}
    if cfg.precip_col in columns:
        shared["precip_ok"] = false_if_null(
            f"({dcol(cfg.precip_col)} < {sql_lit(0.001)})"
        )
    for key, col, thr in (
        ("c_sig_ok", cfg.co2_sig_col, cfg.sig_strength_min),
        ("w_sig_ok", cfg.h2o_sig_col, cfg.sig_strength_min),
        ("sonic_ok", cfg.sonic_samples_col, cfg.min_samples),
        ("irga_ok", cfg.irga_samples_col, cfg.min_samples),
    ):
        if col in columns:
            shared[key] = false_if_null(f"({dcol(col)} > {sql_lit(thr)})")
    if cfg.door_col in columns:
        shared["door_ok"] = false_if_null(f"({dcol(cfg.door_col)} = 0)")

    out: dict[str, str] = {}
    for i, flux in enumerate(cfg.flux_cols):
        lo, hi = (sql_lit(b) for b in cfg.bounds_for(i))
        fx = dcol(flux)
        hl = (
            f"({false_if_null(f'(({fx} < {lo}) OR ({fx} > {hi}))')}"
            f" OR ({fx} IS NULL))"
        )
        grade_ok = false_if_null(
            f"({dcol(cfg.grade_cols[i])} <= {sql_lit(cfg.grade)})"
        )

        chars = [_flag_char(hl), _flag_char(f"(NOT {grade_ok})")]
        # shared's insertion order is the reference's character order
        chars += [_flag_char(f"(NOT {ok})") for ok in shared.values()]
        out[cfg.flag_cols[i]] = f"concat({', '.join(chars)})"

        if "door_ok" in shared:
            good = sql_and(
                shared.get("precip_ok", "true"),
                grade_ok,
                shared["door_ok"],
                f"(NOT {hl})",
                shared.get("c_sig_ok", "true"),
                shared.get("w_sig_ok", "true"),
            )
        else:
            good = sql_and(grade_ok, f"(NOT {hl})")
        if "sonic_ok" in shared or "irga_ok" in shared:
            samples_ok = (
                f"({shared.get('sonic_ok', 'false')}"
                f" OR {shared.get('irga_ok', 'false')})"
            )
            good = sql_and(good, samples_ok)
        out[f"{flux}_Graded"] = f"CASE WHEN {good} THEN {quote_ident(flux)} END"
    return out


def grade_cs(df: DataFrame, cfg: FluxQCConfig | None = None) -> DataFrame:
    """Append ``{flux}_Graded`` + ``{H,LE,Fc}_Flags`` columns."""
    return with_sql_columns(df, grade_cs_exprs(df.columns, cfg))
