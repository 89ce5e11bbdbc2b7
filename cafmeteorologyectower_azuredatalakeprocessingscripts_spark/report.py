"""Tower report surface (SURVEY.md §2.1 S8, §3.3; Phase 4).

The reference renders a multi-page PDF: 9 table-driven variable groups,
one subplot per variable, one line per station, clipped to the last 10
days of data (src/TowerReportPlots.py:18-128). Presentation is a
driver-side concern; the engine's job is the *query*: latest aggregate
per station (S9), last-10-day clip (A3+P3), column pruning to the
grouped variables — all of which Catalyst pushes into the parquet scan.

``report_frames`` does the Spark-side work and hands tiny pandas frames
to the renderer; ``render_pdf`` is a stdlib-only raw-PDF line-chart
writer, so a real multi-page PDF comes out without plotting libraries;
``render_csv`` is the plot-free tabular alternative.
"""

from __future__ import annotations

import datetime
import os
from typing import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Table-driven variable groups (src/TowerReportPlots.py:75-85). The
#: names are the V2-generation (current logger program) column names.
VARIABLE_GROUPS: dict[str, list[str]] = {
    "Heat and Energy Fluxes": ["H", "LE", "FC_mass"],
    "Temperature Variables": ["TA_1_1_1", "TA_1_1_2", "T_SONIC"],
    "Humidity and Precipitation": ["RH_1_1_1", "RH_1_1_3", "P"],
    "Wind and Friction": ["USTAR", "FETCH_90"],
    "Radiation and Photosynthetically Active Radiation": ["PPFD_IN"],
    "Wind Components": ["Ux", "Uy", "Uz"],
    "Flux Sample Totals": ["FC_samples", "LE_samples", "H_samples"],
    "Signal Strengths": ["CO2_sig_strgth_Min", "H2O_sig_strgth_Min"],
    "Soil Temperature and Water Content (Shallow)": ["TS_TDR31X_1_1_1"],
}


def clip_last_days(
    df: DataFrame, ts_col: str = "TIMESTAMP", days: int = 10
) -> DataFrame:
    """Window ending at the data's own max timestamp (the reference
    anchors on ``index[-1]``, src/TowerReportPlots.py:58-62), computed
    without collecting the data: scalar max via a tiny agg, then a
    scan-pushable range predicate."""
    row = df.agg(F.max(ts_col).alias("mx")).first()
    if row is None or row["mx"] is None:
        return df
    lo = row["mx"] - datetime.timedelta(days=days)
    return df.filter(F.col(ts_col).between(F.lit(lo), F.lit(row["mx"])))


def report_frames(
    stations: Mapping[str, DataFrame],
    groups: Mapping[str, list[str]] | None = None,
    ts_col: str = "TIMESTAMP",
    days: int = 10,
    start: datetime.datetime | None = None,
    end: datetime.datetime | None = None,
):
    """Per-station pandas frames pruned to the report variables.

    Mirrors the reference's tolerance: stations whose frames are empty
    are skipped with a note (src/TowerReportPlots.py:30-37); variables a
    station lacks are simply absent. Returns ``(frames, missing)``.

    The clip window is ANCHORED: the reference computes
    [last-10d, last] from the FIRST valid station's final tick and
    slices every station to that shared range
    (src/TowerReportPlots.py:56-62) — a station with stale data shows
    the same x-range as the others (possibly empty), not its own.
    """
    groups = dict(groups or VARIABLE_GROUPS)
    wanted = [v for vs in groups.values() for v in vs]

    def bounded(df: DataFrame) -> DataFrame:
        if start is not None:
            df = df.filter(F.col(ts_col) > F.lit(start))
        if end is not None:
            df = df.filter(F.col(ts_col) < F.lit(end))
        return df

    # anchor = first station with any data: one scalar max agg, no collect
    anchor = None
    for station, df in stations.items():
        row = bounded(df).agg(F.max(ts_col).alias("mx")).first()
        if row is not None and row["mx"] is not None:
            anchor = row["mx"]
            break

    frames: dict[str, object] = {}
    missing: list[str] = []
    for station, df in stations.items():
        cols = [c for c in wanted if c in df.columns]
        clipped = bounded(df.select(ts_col, *cols))
        if anchor is not None:
            lo = anchor - datetime.timedelta(days=days)
            clipped = clipped.filter(F.col(ts_col).between(F.lit(lo), F.lit(anchor)))
        pdf = clipped.orderBy(ts_col).toPandas()
        if len(pdf) == 0:
            missing.append(station)
            continue
        frames[station] = pdf.set_index(ts_col)
    return frames, missing


def report_filename(last_ts: datetime.datetime, days: int = 7) -> str:
    """``CAFLTARTowerReport{YYYYMMDD}_{YYYYMMDD}.pdf`` — 7-day stamp
    ending at the last tick (src/TowerReportPlots.py:64-66)."""
    s = (last_ts - datetime.timedelta(days=days)).strftime("%Y%m%d")
    e = last_ts.strftime("%Y%m%d")
    return f"CAFLTARTowerReport{s}_{e}.pdf"


def render_csv(frames, out_dir: str, groups=None) -> list[str]:
    """Renderer that needs no plotting stack: one CSV per variable
    group, stations' series joined side-by-side on TIMESTAMP."""
    groups = dict(groups or VARIABLE_GROUPS)
    os.makedirs(out_dir, exist_ok=True)
    written = []
    for label, vs in groups.items():
        parts = []
        for station, pdf in frames.items():
            have = [v for v in vs if v in pdf.columns]
            if have:
                parts.append(pdf[have].add_prefix(f"{station}_"))
        if not parts:
            continue
        out = parts[0]
        for p in parts[1:]:
            out = out.join(p, how="outer")
        path = os.path.join(
            out_dir, label.lower().replace(" ", "_")[:48] + ".csv"
        )
        out.to_csv(path, index_label="TIMESTAMP")
        written.append(path)
    return written


#: line colors for the stdlib renderer (RGB 0-1), one per station
_PDF_COLORS = [
    (0.12, 0.47, 0.71), (1.00, 0.50, 0.05), (0.17, 0.63, 0.17),
    (0.84, 0.15, 0.16), (0.58, 0.40, 0.74), (0.55, 0.34, 0.29),
]


def _pdf_escape(s: str) -> str:
    """Escape text for a PDF literal string. The Helvetica stream is
    latin-1; non-encodable chars degrade to '?' predictably instead of
    UTF-8 bytes rendering as mojibake."""
    s = s.encode("latin-1", errors="replace").decode("latin-1")
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _page_content(label, vs, frames, w=612.0, h=792.0) -> str:
    """One page's PDF content stream: title, one framed subplot per
    variable, one polyline per station, min/max tick labels, legend."""
    ops = [f"BT /F1 14 Tf 50 {h - 50:.1f} Td ({_pdf_escape(label)}) Tj ET"]
    left, right, top, bottom = 70.0, w - 40.0, h - 80.0, 50.0
    slot = (top - bottom) / max(1, len(vs))
    # shared x domain: epoch seconds across every station on the page
    xs: list[float] = []
    for pdf in frames.values():
        if any(v in pdf.columns for v in vs) and len(pdf):
            xs += [t.timestamp() for t in pdf.index]
    x0, x1 = (min(xs), max(xs)) if xs else (0.0, 1.0)
    if x1 == x0:
        x1 = x0 + 1.0
    for idx, var in enumerate(vs):
        by1 = top - idx * slot - 18.0          # subplot box
        by0 = top - (idx + 1) * slot + 14.0
        ops.append(f"0.3 0.3 0.3 RG 0.8 w {left:.1f} {by0:.1f} "
                   f"{right - left:.1f} {by1 - by0:.1f} re S")
        ops.append(f"BT /F1 9 Tf {left:.1f} {by1 + 3:.1f} Td "
                   f"({_pdf_escape(var)}) Tj ET")
        series = {
            st: pdf[var].astype(float).dropna()
            for st, pdf in frames.items()
            if var in pdf.columns and pdf[var].notna().any()
        }
        ys = [v for s in series.values() for v in s]
        if not ys:
            continue
        y0, y1 = min(ys), max(ys)
        if y1 == y0:
            y0, y1 = y0 - 0.5, y1 + 0.5
        for lbl, yv in ((f"{y1:.6g}", by1 - 8.0), (f"{y0:.6g}", by0 + 2.0)):
            ops.append(f"BT /F1 7 Tf {left - 62:.1f} {yv:.1f} Td "
                       f"({_pdf_escape(lbl)}) Tj ET")
        for si, (st, s) in enumerate(series.items()):
            r, g, b = _PDF_COLORS[si % len(_PDF_COLORS)]
            pts = [
                (
                    left + (t.timestamp() - x0) / (x1 - x0) * (right - left),
                    by0 + (v - y0) / (y1 - y0) * (by1 - by0),
                )
                for t, v in s.items()
            ]
            path = f"{pts[0][0]:.2f} {pts[0][1]:.2f} m " + " ".join(
                f"{x:.2f} {y:.2f} l" for x, y in pts[1:]
            )
            ops.append(f"{r} {g} {b} RG 1 w {path} S")
            if idx == 0:  # legend on the first subplot only
                ops.append(
                    f"{r} {g} {b} rg BT /F1 8 Tf "
                    f"{right - 110:.1f} {by1 - 12 - 10 * si:.1f} Td "
                    f"({_pdf_escape(st)}) Tj ET 0 0 0 rg"
                )
    return "\n".join(ops)


def render_pdf(frames, out_path: str, groups=None) -> str:
    """Dependency-free multi-page PDF: one page per variable group, one
    framed subplot per variable, one colored polyline per station, with
    min/max tick labels and a station legend — the reference report's
    structure (src/TowerReportPlots.py:87-124) drawn with raw PDF path
    operators (m/l/S) and Helvetica text, stdlib only. Not matplotlib:
    no ticks between min/max, no date axis labels — the honest minimal
    chart, not a stub. Raises ``ValueError`` when no group has data."""
    groups = dict(groups or VARIABLE_GROUPS)
    pages = [
        (label, vs)
        for label, vs in groups.items()
        if any(
            v in pdf.columns and pdf[v].notna().any()
            for v in vs
            for pdf in frames.values()
        )
    ]
    if not pages:
        # a zero-page /Pages tree is invalid PDF — fail loudly rather
        # than writing a file most viewers reject
        raise ValueError(
            "no variable group has plottable data — nothing to render"
        )
    objs: list[bytes] = []  # 1-indexed PDF objects, in order

    def add(body: str | bytes) -> int:
        objs.append(body.encode() if isinstance(body, str) else body)
        return len(objs)

    font = add("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    kids = []
    pages_obj_num = 2 + 2 * len(pages)  # font + per-page (content, page)
    for label, vs in pages:
        content = _page_content(label, vs, frames).encode("latin-1")
        c = add(b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content))
        p = add(
            f"<< /Type /Page /Parent {pages_obj_num} 0 R "
            f"/MediaBox [0 0 612 792] /Contents {c} 0 R "
            f"/Resources << /Font << /F1 {font} 0 R >> >> >>"
        )
        kids.append(p)
    pages_obj = add(
        "<< /Type /Pages /Kids ["
        + " ".join(f"{k} 0 R" for k in kids)
        + f"] /Count {len(kids)} >>"
    )
    assert pages_obj == pages_obj_num
    catalog = add(f"<< /Type /Catalog /Pages {pages_obj} 0 R >>")

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, catalog, xref_at)
    )
    with open(out_path, "wb") as f:
        f.write(bytes(out))
    return out_path
