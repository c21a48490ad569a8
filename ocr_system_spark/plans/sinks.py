"""Result sinks (reference K1/K2: append-mode CSV with header, CSV/XLSX
export — /root/reference/ocr/csv_utils.py:8-16, gui/app.py:106-112).

Parquet partitioned by bucket is the primary sink (plans/pipeline.py); CSV
is the report/export path. XLSX (reference gui/app.py:111-112 — pandas
``to_excel(sheet_name="Results")``) is a DRIVER-SIDE export of the small
per-job report table, like the reference's; it is written here with the
stdlib only (an .xlsx file IS a zip of XML parts; openpyxl is absent from
the container), guarded by a row cap because a spreadsheet is not a
distributed format."""

from __future__ import annotations

import datetime as _dt
import zipfile
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame


def export_csv(results: DataFrame, path: str, mode: str = "overwrite",
               single_file: bool = False) -> None:
    """results → CSV with header. ``single_file`` coalesces to one part —
    the reference's one-file export; leave False at scale."""
    df = results.drop("spans") if "spans" in results.columns else results
    out = df.coalesce(1) if single_file else df
    (out.write.mode(mode)
        .option("header", "true")
        .option("emptyValue", "")
        # extracted_text contains newlines: quote+escape everything so the
        # file round-trips (readers must set multiLine=true)
        .option("quoteAll", "true")
        .option("escape", '"')
        .csv(path))


# ---------------------------------------------------------------------------
# XLSX export (reference K2) — stdlib-only OOXML writer
# ---------------------------------------------------------------------------

_XLSX_MAX_ROWS = 1_048_576  # the sheet format's hard row limit

# saxutils.escape handles &<> only; attribute values also need the quote
# char escaped or a sheet name containing '"' corrupts workbook.xml
_XML_ATTR_ESCAPES = {'"': "&quot;"}

# Excel's own sheet-name rules: non-empty, ≤31 chars, none of []:*?/\
_SHEET_FORBIDDEN = set('[]:*?/\\')


def _validate_sheet_name(name: str) -> str:
    """Reject names Excel itself refuses (it rejects the whole workbook,
    not just the name) rather than writing a file that won't open."""
    if not name or len(name) > 31:
        raise ValueError(
            f"xlsx sheet name must be 1-31 characters, got {len(name)}")
    bad = _SHEET_FORBIDDEN & set(name)
    if bad:
        raise ValueError(
            f"xlsx sheet name may not contain {''.join(sorted(bad))!r}")
    return name


def _col_letter(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def _cell_xml(ref: str, value) -> str:
    if value is None:
        return ""
    if isinstance(value, bool):
        return f'<c r="{ref}" t="b"><v>{int(value)}</v></c>'
    if isinstance(value, (int, float)):
        if isinstance(value, float) and (value != value or value in
                                         (float("inf"), float("-inf"))):
            return f'<c r="{ref}" t="inlineStr"><is><t>{value}</t></is></c>'
        return f'<c r="{ref}"><v>{value!r}</v></c>'
    if isinstance(value, (_dt.datetime, _dt.date)):
        value = value.isoformat()
    txt = escape(str(value))
    return (f'<c r="{ref}" t="inlineStr"><is>'
            f'<t xml:space="preserve">{txt}</t></is></c>')


def export_xlsx(results: DataFrame, path: str, sheet_name: str = "Results",
                max_rows: int = 100_000) -> int:
    """Write the (small) results table as a real .xlsx file — the
    reference's spreadsheet export (gui/app.py:106-112), re-expressed
    without openpyxl: an xlsx is a zip containing OOXML parts, and inline
    strings keep the writer to four small XML documents.

    Driver-side by design: the reference exports its per-job field report,
    not a corpus. ``max_rows`` guards the collect (hard format limit is
    1,048,575 data rows). Returns the number of data rows written."""
    sheet_name = _validate_sheet_name(sheet_name)
    df = results.drop("spans") if "spans" in results.columns else results
    rows = df.limit(min(max_rows, _XLSX_MAX_ROWS - 1) + 1).collect()
    if len(rows) > min(max_rows, _XLSX_MAX_ROWS - 1):
        raise ValueError(
            f"export_xlsx: result exceeds max_rows={max_rows}; a spreadsheet "
            "is a report format — export_csv/parquet for large results")
    cols = df.columns

    body = ["<row r=\"1\">"]
    body += [_cell_xml(f"{_col_letter(c)}1", name) for c, name in enumerate(cols)]
    body.append("</row>")
    for r, row in enumerate(rows, start=2):
        body.append(f'<row r="{r}">')
        body += [_cell_xml(f"{_col_letter(c)}{r}", row[c])
                 for c in range(len(cols))]
        body.append("</row>")
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/'
        'spreadsheetml/2006/main"><sheetData>'
        + "".join(body) + "</sheetData></worksheet>"
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f'<sheets><sheet name="{escape(sheet_name, _XML_ATTR_ESCAPES)}"'
        ' sheetId="1" r:id="rId1"/></sheets>'
        '</workbook>'
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        '</Relationships>'
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        '</Relationships>'
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-'
        'package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        '</Types>'
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    return len(rows)
