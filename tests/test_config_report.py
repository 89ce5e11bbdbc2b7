"""Config contract (S7), report surface (S8), V2 schema generation."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.config import (
    SiteConfig,
    abfss_oauth_conf,
    abfss_url,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.report import (
    VARIABLE_GROUPS,
    clip_last_days,
    report_filename,
    report_frames,
    render_csv,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.schemas import (
    get_schema,
    to_canonical,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.qc.grade import grade_cs


# the reference workbook shape: {value_column: {Variable: value}}
_ACCESS = {
    "Flux": {
        "storageaccountname": "myacct", "file_system": "raw",
        "path": "CookEast/Flux/", "UPLOAD": "CookEast/FluxAgg/",
        "LOCAL_DIRECT": "/tmp/x", "back": 2,
        "CLIENTID": "cid", "TENANTID": "tid", "CLIENTSECRET": "sec",
        "grade": 6, "LE_B": -100.0, "H_B": -120.0, "F_B": -50.0,
        "ustar": 0.2, "Ver": "V2",
    },
    "Met": {"LE_B": 800.0, "H_B": 900.0, "F_B": 30.0},
    "Val_3": {},
}


def test_site_config_from_mapping():
    cfg = SiteConfig.from_mapping("CookEast", _ACCESS)
    assert cfg.ver == "V2"
    assert cfg.lookback_months == 2
    assert cfg.qc.grade == 6
    assert cfg.qc.le_bounds == (-100.0, 800.0)
    assert cfg.qc.h_bounds == (-120.0, 900.0)
    assert cfg.qc.fc_bounds == (-50.0, 30.0)
    assert cfg.qc.ustar == 0.2


def test_site_config_rejects_bad_grade():
    bad = {k: dict(v) for k, v in _ACCESS.items()}
    bad["Flux"]["grade"] = 11
    with pytest.raises(ValueError):
        SiteConfig.from_mapping("CookEast", bad)


def test_abfss_url_and_oauth_conf():
    cfg = SiteConfig.from_mapping("CookEast", _ACCESS)
    url = abfss_url(cfg, cfg.raw_path, "2022", "01")
    assert url == (
        "abfss://raw@myacct.dfs.core.windows.net/CookEast/Flux/2022/01"
    )
    conf = abfss_oauth_conf(cfg)
    acct = "myacct.dfs.core.windows.net"
    assert conf[f"fs.azure.account.auth.type.{acct}"] == "OAuth"
    assert conf[f"fs.azure.account.oauth2.client.id.{acct}"] == "cid"
    assert "tid" in conf[f"fs.azure.account.oauth2.client.endpoint.{acct}"]


def _mk_station(spark, n_ticks=30 * 48, h0=10.0):
    t0 = datetime.datetime(2022, 1, 1)
    rows = [
        (t0 + datetime.timedelta(minutes=30 * i), h0 + i % 7, 100.0 + i % 5)
        for i in range(n_ticks)
    ]
    return spark.createDataFrame(rows, "TIMESTAMP timestamp, H double, LE double")


def test_clip_last_days_and_report_frames(spark):
    df = _mk_station(spark)
    clipped = clip_last_days(df, days=10)
    mn, mx = clipped.agg(F.min("TIMESTAMP"), F.max("TIMESTAMP")).first()
    assert (mx - mn) <= datetime.timedelta(days=10)
    # 10 days of 30-min ticks (+1 boundary tick)
    assert clipped.count() == 10 * 48 + 1

    frames, missing = report_frames(
        {"CookEast": df, "CookWest": _mk_station(spark, h0=20.0)}
    )
    assert missing == []
    assert set(frames) == {"CookEast", "CookWest"}
    # pruned to variables that exist (H, LE) — never the full table
    assert set(frames["CookEast"].columns) == {"H", "LE"}


def test_report_frames_skips_empty_station(spark):
    full = _mk_station(spark)
    empty = full.filter(F.lit(False))
    frames, missing = report_frames({"CookEast": full, "BoydNorth": empty})
    assert missing == ["BoydNorth"]
    assert list(frames) == ["CookEast"]


def test_report_frames_anchor_shared_across_stations(spark):
    """Reference anchors the 10-day window on the FIRST valid station's
    last tick (src/TowerReportPlots.py:56-62): a station whose data is
    stale relative to the anchor falls outside the shared window."""
    fresh = _mk_station(spark)  # ends 2022-01-30 23:30
    stale = fresh.filter(
        F.col("TIMESTAMP") < F.lit(datetime.datetime(2022, 1, 10))
    )
    frames, missing = report_frames({"CookEast": fresh, "BoydSouth": stale})
    # stale station has NO rows inside [anchor-10d, anchor] -> missing
    assert missing == ["BoydSouth"]
    assert list(frames) == ["CookEast"]

    # reversed order: the stale station becomes the anchor, and the
    # fresh station contributes only the ticks inside the stale window
    frames2, missing2 = report_frames({"BoydSouth": stale, "CookEast": fresh})
    assert missing2 == []
    anchor_end = frames2["BoydSouth"].index.max()
    assert frames2["CookEast"].index.max() <= anchor_end


def test_render_csv(tmp_path, spark):
    frames, _ = report_frames({"CookEast": _mk_station(spark)})
    written = render_csv(frames, str(tmp_path))
    assert written  # at least the Heat and Energy Fluxes group
    head = open(written[0]).readline()
    assert "CookEast_H" in head


def test_report_filename():
    assert (
        report_filename(datetime.datetime(2022, 3, 10, 12, 0))
        == "CAFLTARTowerReport20220303_20220310.pdf"
    )


def test_v2_schema_and_canonical_rename(spark):
    st = get_schema("Flux", "Raw", "V2")
    assert st.fieldNames()[:3] == ["TIMESTAMP", "RECORD", "FC_mass"]
    t0 = datetime.datetime(2022, 1, 1)
    df = spark.createDataFrame(
        [(t0, 1, 12.0, 40.0, -3.0, 55.0, 4, 4, 4, 0.0, 0.9, 0.9, 15000)],
        "TIMESTAMP timestamp, RECORD bigint, H double, LE double, "
        "FC_mass double, TA_1_1_1 double, H_QC bigint, LE_QC bigint, "
        "FC_QC bigint, P double, CO2_sig_strgth_Min double, "
        "H2O_sig_strgth_Min double, FC_samples bigint",
    )
    canon = to_canonical(df, "Flux", "V2")
    assert "amb_tmpr_Avg" in canon.columns
    assert "H_qc_grade" in canon.columns
    assert "TA_1_1_1" not in canon.columns
    # the canonicalized frame feeds the unchanged QC operator; the V2
    # generation carries mass (not molar) CO2 flux, so config points the
    # third flux slot at FC_mass
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.qc.grade import (
        FluxQCConfig,
    )

    flagged = grade_cs(canon, FluxQCConfig(flux_cols=("H", "LE", "FC_mass")))
    row = flagged.first()
    assert row["H_Flags"] is not None
    assert row["LE_Flags"] is not None
    # V40826 passthrough is a no-op
    assert to_canonical(df, "Flux", "V40826") is df


def _write_xlsx(path, sheets):
    """Minimal real .xlsx (zipped SpreadsheetML, inline strings) — what
    the reference's DataLakeDownload workbook is, written with stdlib
    only so the test needs no Excel engine either."""
    import zipfile

    def cell(ref, v):
        if isinstance(v, str):
            return f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>'
        return f'<c r="{ref}"><v>{v}</v></c>'

    def sheet_xml(rows):
        out = ['<?xml version="1.0"?><worksheet xmlns='
               '"http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
               '<sheetData>']
        for ri, row in enumerate(rows, start=1):
            cells = "".join(
                cell(f"{chr(ord('A') + ci)}{ri}", v)
                for ci, v in enumerate(row)
                if v is not None
            )
            out.append(f'<row r="{ri}">{cells}</row>')
        out.append("</sheetData></worksheet>")
        return "".join(out)

    names = list(sheets)
    wb_sheets = "".join(
        f'<sheet name="{n}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, n in enumerate(names)
    )
    rels = "".join(
        f'<Relationship Id="rId{i + 1}" Type="http://schemas.openxmlformats.org'
        f'/officeDocument/2006/relationships/worksheet" '
        f'Target="worksheets/sheet{i + 1}.xml"/>'
        for i in range(len(names))
    )
    overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml'
        '.worksheet+xml"/>'
        for i in range(len(names))
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats'
            '.org/package/2006/content-types">'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Default Extension="rels" ContentType="application/vnd'
            '.openxmlformats-package.relationships+xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/'
            'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            f"{overrides}</Types>",
        )
        z.writestr(
            "_rels/.rels",
            '<?xml version="1.0"?><Relationships xmlns="http://schemas'
            '.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships/officeDocument" '
            'Target="xl/workbook.xml"/></Relationships>',
        )
        z.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0"?><workbook xmlns="http://schemas'
            '.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://'
            'schemas.openxmlformats.org/officeDocument/2006/relationships">'
            f"<sheets>{wb_sheets}</sheets></workbook>",
        )
        z.writestr(
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0"?><Relationships xmlns="http://schemas'
            '.openxmlformats.org/package/2006/relationships">'
            f"{rels}</Relationships>",
        )
        for i, n in enumerate(names):
            z.writestr(f"xl/worksheets/sheet{i + 1}.xml", sheet_xml(sheets[n]))


def test_load_workbook_via_stdlib_xlsx_reader(tmp_path):
    """S7 un-gated: the reference DataLakeDownload workbook read without
    any Excel engine — stdlib zipfile+ElementTree parse, same nested
    dict pd.read_excel(..., index_col='Variable').to_dict() yields."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.config import (
        load_workbook,
        read_xlsx_sheet,
    )

    rows = [
        ["Variable", "Flux", "Met", "Val_3", "Val_4"],
        ["storageaccountname", "acct", None, None, None],
        ["file_system", "rawzone", None, None, None],
        ["path", "CookEast/Flux/", None, None, None],
        ["grade", 6, None, None, None],
        ["LE_B", -120, 900, None, None],
        ["H_B", -110, 800, None, None],
        ["F_B", -50, 15, None, None],
        ["ustar", 0, None, None, None],
        ["gg", "H_qc_grade", "LE_qc_grade", "Fc_qc_grade", None],
        ["cls", "H", "LE", "Fc_molar", None],
        ["back", 2, None, None, None],
        ["Ver", "V40826", None, None, None],
    ]
    path = str(tmp_path / "DataLakeDownload.xlsx")
    _write_xlsx(path, {"CookEast": rows, "BoydNorth": rows})

    nested = read_xlsx_sheet(path, "CookEast")
    assert nested["Flux"]["grade"] == 6
    assert nested["Met"]["LE_B"] == 900
    assert nested["Flux"]["cls"] == "H" and nested["Val_3"]["cls"] == "Fc_molar"

    cfgs = load_workbook(path, ["CookEast", "BoydNorth"])
    cfg = cfgs["CookEast"]
    assert cfg.storage_account == "acct" and cfg.file_system == "rawzone"
    assert cfg.qc.grade == 6
    assert cfg.qc.le_bounds == (-120.0, 900.0)
    assert cfg.qc.h_bounds == (-110.0, 800.0)
    assert cfg.qc.fc_bounds == (-50.0, 15.0)
    assert cfg.lookback_months == 2
    assert cfgs["BoydNorth"].site == "BoydNorth"
    with pytest.raises(KeyError):
        read_xlsx_sheet(path, "NoSuchSite")


def test_render_pdf_stdlib_vector(tmp_path):
    """S8 un-gated: a real multi-page PDF from the stdlib vector
    renderer — correct xref offsets, one page per non-empty group,
    per-station polylines and labels in the content streams."""
    import datetime as dt

    import pandas as pd

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.report import (
        VARIABLE_GROUPS,
        render_pdf,
    )

    idx = pd.date_range(dt.datetime(2022, 1, 1), periods=48, freq="30min")
    frames = {
        "CookEast": pd.DataFrame(
            {"H": range(48), "LE": [v * 0.5 for v in range(48)],
             "TA_1_1_1": [5.0] * 48},
            index=idx,
        ),
        "BoydNorth": pd.DataFrame({"H": [10.0] * 48}, index=idx),
    }
    out = str(tmp_path / "report.pdf")
    # uncompressed content streams: the byte checks below read them
    assert render_pdf(frames, out) == out
    raw = open(out, "rb").read()
    assert raw.startswith(b"%PDF-1.4") and raw.rstrip().endswith(b"%%EOF")
    # groups with data: Heat+Energy (H, LE) and Temperature (TA_1_1_1)
    assert raw.count(b"/Type /Page ") == 2
    assert b"(Heat and Energy Fluxes)" in raw
    assert b"(TA_1_1_1)" in raw
    assert b"(CookEast)" in raw and b"(BoydNorth)" in raw
    # xref offsets must point at their objects
    xref_at = int(raw.rsplit(b"startxref", 1)[1].split()[0])
    lines = raw[xref_at:].split(b"\n")
    n = int(lines[1].split()[1])
    for i, ln in enumerate(lines[3 : 2 + n], start=1):
        off = int(ln.split()[0])
        assert raw[off:].startswith(b"%d 0 obj" % i), i
    # polyline ops present (m ... l ... S)
    assert b" m " in raw and b" l" in raw


def test_render_pdf_vector_rejects_empty_and_xlsx_errors_name_problem(tmp_path):
    import pandas as pd

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.report import (
        render_pdf,
    )

    with pytest.raises(ValueError, match="plottable"):
        render_pdf(
            {"CookEast": pd.DataFrame({"NOT_A_GROUP_VAR": [1.0]})},
            str(tmp_path / "empty.pdf"),
        )

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.config import (
        read_xlsx_sheet,
    )

    rows = [["NotVariable", "Flux"], ["grade", 7]]
    path = str(tmp_path / "bad.xlsx")
    _write_xlsx(path, {"CookEast": rows})
    with pytest.raises(ValueError, match="Variable"):
        read_xlsx_sheet(path, "CookEast")


def test_access_azure_save_requires_destination(spark, tmp_path):
    import os

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark import compat

    from tests.test_driver_job import _toa5

    d = tmp_path / "raw"
    os.makedirs(d)
    _toa5(str(d / "CookEast_Flux_2022_01_01_0000.dat"), 1, 1000, 4)
    access = {"Flux": {"Ver": "V40826"}, "Met": {}, "Val_3": {}, "Val_4": {}}
    with pytest.raises(ValueError, match="save=True"):
        compat.AccessAzure(
            "CookEast", "Flux", "30min", access, str(d),
            startDate="2022-01-01", endDate="2022-01-31",
            spark=spark, save=True,
        )


def test_xlsx_duplicate_header_raises(tmp_path):
    """ADVICE r5: a malformed workbook with duplicate header names must
    error instead of silently dropping a column (last-wins dict build)."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.config import (
        read_xlsx_sheet,
    )

    rows = [["Variable", "Flux", "Flux"], ["grade", 6, 7]]
    path = str(tmp_path / "dup.xlsx")
    _write_xlsx(path, {"CookEast": rows})
    with pytest.raises(ValueError, match="duplicate"):
        read_xlsx_sheet(path, "CookEast")


def test_pdf_vector_non_ascii_degrades_to_latin1(tmp_path):
    """ADVICE r5: the stdlib renderer writes a latin-1 Helvetica stream;
    é must come out as the single latin-1 byte (not UTF-8 mojibake) and
    non-latin-1 chars degrade predictably to '?'."""
    import datetime as dt

    import pandas as pd

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.report import (
        render_pdf,
    )

    idx = pd.date_range(dt.datetime(2022, 1, 1), periods=4, freq="30min")
    frames = {
        "Café": pd.DataFrame({"H": [1.0, 2.0, 3.0, 4.0]}, index=idx),
        "站北": pd.DataFrame({"H": [5.0] * 4}, index=idx),
    }
    out = str(tmp_path / "latin1.pdf")
    render_pdf(frames, out)
    raw = open(out, "rb").read()
    assert b"(Caf\xe9)" in raw          # latin-1 single byte
    assert b"Caf\xc3\xa9" not in raw     # no UTF-8 double byte
    assert b"(??)" in raw                # CJK degrades to '?'
