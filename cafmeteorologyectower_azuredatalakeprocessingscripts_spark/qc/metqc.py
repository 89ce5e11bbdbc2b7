"""Met_QAQC — meteorology quality control (SURVEY.md §2.8 W1-W5, §2.2 P4).

Reference: src/AzureDataLakeAccess.py:637-804. Per variable it derives
``{Var}_Hard_Limit`` (physical bounds), ``{Var}_Change`` (step/spike and
stuck-sensor test on the lag difference), ``{Var}_Day_Change`` (daily-mean
flatline test), and ``{Var}_Filtered`` (the value where every test passed,
else null), plus MSLP derivation from pressure + temperature and special
RH/precip logic.

The whole battery is ONE projection over the frame (plus one ``lag``
window and, in fixed mode, one day-level window) — no joins. The
reference's pandas column-joins (J1/J3) are alignment artifacts with no
Spark counterpart. Each produced column is one SQL string
(:func:`met_qaqc_exprs`), all parsed by one ``selectExpr``: a battery
built from Column objects pays a py4j round trip per expression node,
thousands on the Flux layout. Identifiers go through ``quote_ident``, so
physical names may hold dots or backticks. Literals are typed as the
Column API types Python numbers (``sql_lit``): floats are DOUBLE
literals (a bare ``0.029`` would parse as DECIMAL and change the bits),
ints stay ints. The arithmetic keeps the operand order of the
reference's Python expressions (``8.314 * (T + 273.15)`` is
``(T + 273.15D) * 8.314D``), so the doubles are bit-identical.

Bug-compat mode (default True) reproduces the reference's actual pandas
arithmetic, which differs from its evident intent:

- ``np.abs(diff >= 15)`` applies ``abs`` AFTER the comparison, so only
  *positive* spikes trip the test (:643 et al.). With ``bug_compat=False``
  the test is ``abs(diff) >= thr``.
- ``X.resample('D').mean().diff != 0`` compares the *method object* — a
  scalar True — so Day_Change is constant True (:644 et al.). With
  ``bug_compat=False`` it is a real daily-mean lag test, broadcast to all
  ticks of the day.
- pandas null coercion: ``NaN >= x → False`` but ``NaN != 0 → True``
  (first row of every series). Reproduced in both modes via explicit
  null defaults.

Precip zero-restore (:755) uses ``Series.replace`` with a value *list*;
when that list contains NaN, pandas replaces every NaN in the column — a
data-dependent global side effect. We implement the documented intent
(zero precip stays 0; failing rows null) — see DECISIONS.md.
"""

from __future__ import annotations

from collections.abc import Collection, Sequence

from pyspark.sql import DataFrame

from ..functions.nulls import false_if_null, true_if_null
from ..functions.sql import quote_ident, sql_and, sql_lit, with_sql_columns

# logical var -> Flux-table column (reference METQC 'Flux' branch, :622-624)
MET_FLUX_MAPPING = {
    "Tair": "amb_tmpr_Avg",
    "RH": "RH_Avg",
    "P": "amb_press_Avg",
    "WS": "rslt_wnd_spd",
    "WD": "wnd_dir_compass",
    "Precip": "Precipitation_Tot",
    "PAR": "PAR_density_Avg",
    "Rn": "Rn_meas_Avg",
    "VPD": "VPD_air",
    "e": "e_Avg",
    "e_s": "e_sat_Avg",
}

# Met-table naming differs only for vapor pressures (:626-628)
MET_MET_MAPPING = {**MET_FLUX_MAPPING, "e": "e", "e_s": "e_sat"}

# (hard lo, lo inclusive, hard hi, hi inclusive) per variable (:642-799)
_HARD_LIMITS = {
    "Tair": (-40.0, True, 50.0, True),
    "RH": (0.0, True, 103.0, True),
    "P": (80.0, True, 100.0, True),
    "MSLP": (80.0, True, 110.0, True),
    "WS": (0.0, True, 60.0, False),
    "WD": (0.0, True, 360.0, False),
    "PAR": (0.0, True, 5000.0, False),
    "Rn": (-150.0, True, 1500.0, True),
    "Precip": (0.0, True, 100.0, False),
    "VPD": (0.0, True, 50.0, False),
    "e": (0.0, True, 50.0, False),
    "e_s": (0.0, True, 50.0, False),
}

# step-change threshold per variable (:643-800); None = no threshold clause
_CHANGE_THRESHOLDS = {
    "Tair": 15.0,
    "RH": 50.0,
    "P": 3.1,
    "MSLP": 31.0,
    "WS": 15.0,
    "WD": None,  # only the stuck-sensor (diff != 0) clause (:712)
    "PAR": 1500.0,
    "Rn": 500.0,
    "VPD": 10.0,
    "e": 10.0,
    "e_s": 10.0,
}

# variables whose Change test includes the stuck-sensor (diff != 0) clause;
# PAR's does not (:724)
_HAS_NEQ_ZERO = {"Tair", "RH", "P", "MSLP", "WS", "WD", "Rn", "VPD", "e", "e_s"}

# variables with a Day_Change test (:644-801; P, MSLP, WD, Precip have none)
_HAS_DAY_CHANGE = {"Tair", "RH", "WS", "PAR", "Rn", "VPD", "e", "e_s"}

_ORDER = ["Tair", "RH", "P", "WS", "WD", "PAR", "Rn", "Precip", "VPD", "e", "e_s"]


def _hard_limit(c: str, var: str) -> str:
    lo, lo_inc, hi, hi_inc = _HARD_LIMITS[var]
    lo_ok = f"({c} {'>=' if lo_inc else '>'} {sql_lit(lo)})"
    hi_ok = f"({c} {'<=' if hi_inc else '<'} {sql_lit(hi)})"
    return false_if_null(sql_and(lo_ok, hi_ok))


def _change_test(diff: str, var: str, bug_compat: bool) -> str:
    """Spike + stuck-sensor test on the lag difference.

    bug-compat: comparison on the RAW diff (positive spikes only for the
    upper-bound forms), pandas null coercion per clause. Fixed: abs(diff).
    """
    thr = _CHANGE_THRESHOLDS[var]
    d = diff if bug_compat else f"abs({diff})"
    clauses = []
    if thr is not None:
        if var == "Tair":
            # reference writes ~(diff >= 15) (:643) — others use diff <= thr
            clauses.append(f"(NOT {false_if_null(f'({d} >= {sql_lit(thr)})')})")
        else:
            clauses.append(false_if_null(f"({d} <= {sql_lit(thr)})"))
    if var in _HAS_NEQ_ZERO:
        clauses.append(true_if_null(f"({diff} != 0)"))
    return sql_and(*clauses)


def met_qaqc_exprs(
    columns: Collection[str],
    mapping: dict[str, str] | None = None,
    ts_col: str = "TIMESTAMP",
    z: float = 0.777,
    partition_cols: Sequence[str] = (),
    bug_compat: bool = True,
) -> dict[str, str]:
    """``{produced column: SQL}`` of the Met QC battery over a frame with
    ``columns`` (used by :func:`met_qaqc` and the pipeline's single QC
    projection). Arguments as for :func:`met_qaqc`."""
    mapping = {
        k: v
        for k, v in (mapping or MET_FLUX_MAPPING).items()
        if v in columns
    }
    ts = quote_ident(ts_col)
    pcols = [quote_ident(c) for c in partition_cols]

    def over(partition: list[str], order: str = "", frame: str = "") -> str:
        spec = [f"PARTITION BY {', '.join(partition)}"] if partition else []
        if order:
            spec.append(f"ORDER BY {order}")
        if frame:
            spec.append(frame)
        return f"OVER ({' '.join(spec)})"

    val: dict[str, str] = {
        v: f"CAST({quote_ident(mapping[v])} AS DOUBLE)" for v in mapping
    }
    # MSLP derived from P + Tair via the barometric formula (:676-681):
    # scale height H = 8.314*(Tair+273.15)/(0.029*9.81)/1000 [km]
    if "P" in val and "Tair" in val:
        h_km = (
            f"(((({val['Tair']} + {sql_lit(273.15)}) * {sql_lit(8.314)})"
            f" / {sql_lit(0.029 * 9.81)}) / {sql_lit(1000.0)})"
        )
        val["MSLP"] = f"({val['P']} / exp(((- {sql_lit(z)}) / {h_km})))"

    day = f"date_trunc('DAY', {ts})"
    out: dict[str, str] = {}
    tests: dict[str, str] = {}  # var -> conjunction of its tests

    def add_var(var: str) -> None:
        c = val[var]
        if var == "MSLP":
            # the derived MSLP value itself is part of the output
            # (reference joins the MSLP frame and keeps it, :681-682)
            out["MSLP"] = c
        hl = _hard_limit(c, var)
        out[f"{var}_Hard_Limit"] = hl
        conj = hl
        if var == "RH":
            out["RH_gt_100"] = false_if_null(
                f"(({c} >= 100) AND ({c} <= 103))"
            )
        if var != "Precip":
            diff = f"({c} - lag({c}) {over(pcols, ts)})"
            ch = _change_test(diff, var, bug_compat)
            out[f"{var}_Change"] = ch
            conj = sql_and(conj, ch)
        if var in _HAS_DAY_CHANGE:
            if bug_compat:
                # reference compares the .diff *method* to 0 → constant True
                dc = "true"
            else:
                # intended semantics: daily mean changed vs the previous
                # day, broadcast to every tick of the day. Day mean via a
                # day-keyed window; previous-day mean via a range window
                # over the unix day number (handles missing days; absent
                # previous day → pass, like a NaN diff would).
                day_avg = f"avg({c}) {over(pcols + [day])}"
                day_num = f"datediff({day}, '1970-01-01')"
                prev_day = "RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING"
                prev = f"max({day_avg}) {over(pcols, day_num, prev_day)}"
                dc = true_if_null(f"(({day_avg} - {prev}) != 0)")
            out[f"{var}_Day_Change"] = dc
            conj = sql_and(conj, dc)
        tests[var] = conj

    for var in _ORDER:
        if var in val:
            add_var(var)
            if var == "P" and "MSLP" in val:
                add_var("MSLP")

    # Filtered columns (value where all tests pass, else null)
    for var in _ORDER + ["MSLP"]:
        if var not in val or var == "Precip":
            continue
        filt = f"CASE WHEN {tests[var]} THEN {val[var]} END"
        if var == "RH":
            # clamp (100, 103] -> 100 on passing rows (:656, :660)
            filt = (
                f"CASE WHEN {sql_and(tests['RH'], out['RH_gt_100'])}"
                f" THEN {sql_lit(100.0)} ELSE {filt} END"
            )
        out[f"{var}_Filtered"] = filt

    # Precip interaction logic (:744-770)
    if "Precip" in val:
        p = val["Precip"]
        conds = tests["Precip"]
        if "RH" in val:
            rh_gt_90 = false_if_null(
                f"(({p} > 0) AND ({out['RH_Filtered']} >= 90))"
            )
            out["Precip_RH_gt_90"] = rh_gt_90
            conds = sql_and(conds, rh_gt_90)
        if "Tair" in val:
            tair_lt_0 = false_if_null(
                f"(({p} > 0) AND ({out['Tair_Filtered']} < 0))"
            )
            out["Precip_Tair_lt_Zero"] = tair_lt_0
            conds = sql_and(conds, f"(NOT {tair_lt_0})")
        out["Precip_Filtered"] = (
            f"CASE WHEN ({p} = 0) THEN {sql_lit(0.0)} WHEN {conds} THEN {p} END"
        )
    return out


def met_qaqc(
    df: DataFrame,
    mapping: dict[str, str] | None = None,
    ts_col: str = "TIMESTAMP",
    z: float = 0.777,
    partition_cols: Sequence[str] = (),
    bug_compat: bool = True,
) -> DataFrame:
    """Append the full Met QC column battery.

    ``mapping``: logical var -> physical column (vars missing from the
    mapping or the frame are skipped, like the reference's kwarg checks).
    ``partition_cols``: site/table keys — the lag windows partition by
    them so a 1000-site dataset never funnels through one partition.
    Re-running is idempotent: previously produced QC columns are dropped
    first (reference drop-then-recompute, :629-632).
    """
    exprs = met_qaqc_exprs(
        df.columns, mapping, ts_col, z, partition_cols, bug_compat
    )
    return with_sql_columns(df, exprs)
