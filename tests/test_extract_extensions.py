"""W1 filter operator, custom-column UDF slot, CSV sink."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import functions as F

from ocr_system_spark.operators.extract import (
    extract_fields, has_data_filter, with_custom_column)
from ocr_system_spark.plans.sinks import export_csv
from tests.test_pipeline_e2e import pages_df


def test_has_data_filter_drops_empty_rows(spark, pages_fixture, golden_fields):
    pages = pages_df(spark, pages_fixture.head(300))
    res = extract_fields(pages)
    kept = has_data_filter(res).toPandas()
    # expected from goldens: any of licenses/address/start/end non-blank
    g = golden_fields.head(300).fillna("")
    exp = g[(g["licenses"].str.strip() != "") | (g["address"].str.strip() != "")
            | (g["start_date"].str.strip() != "") | (g["end_date"].str.strip() != "")]
    assert set(kept["url"]) == set(exp["url"])
    assert len(kept) < 300  # the filter actually drops something


def test_custom_column_slot(spark, pages_fixture):
    pages = pages_df(spark, pages_fixture.head(50))
    res = extract_fields(pages)

    def my_rule(rows: pa.RecordBatch) -> list:
        return [f"{len(lic or '')}!" for lic in rows["licenses"].tolist()]

    out = with_custom_column(res, my_rule, name="custom").toPandas()
    assert (out["custom"] == out["licenses"].fillna("").str.len().astype(str) + "!").all()


def test_csv_sink_roundtrip(spark, pages_fixture, tmp_path):
    pages = pages_df(spark, pages_fixture.head(40))
    res = extract_fields(pages)
    path = str(tmp_path / "out_csv")
    export_csv(res, path, single_file=True)
    back = spark.read.option("header", "true").csv(path)
    assert back.count() == 40
    assert "license_id" in back.columns


# ---------------------------------------------------------------------------
# XLSX export (reference K2) — stdlib round-trip
# ---------------------------------------------------------------------------

def _read_xlsx(path):
    """Parse the written workbook with the stdlib only (openpyxl is absent
    by design — the writer must produce spec-level OOXML)."""
    import zipfile
    import xml.etree.ElementTree as ET
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(path) as z:
        assert set(z.namelist()) >= {
            "[Content_Types].xml", "_rels/.rels",
            "xl/workbook.xml", "xl/_rels/workbook.xml.rels",
            "xl/worksheets/sheet1.xml"}
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
        wb = ET.fromstring(z.read("xl/workbook.xml"))
    name = wb.find(f"{ns}sheets/{ns}sheet").get("name")
    rows = []
    for row in sheet.iter(f"{ns}row"):
        vals = {}
        for c in row.iter(f"{ns}c"):
            ref = c.get("r")
            col = "".join(ch for ch in ref if ch.isalpha())
            if c.get("t") == "inlineStr":
                vals[col] = c.find(f"{ns}is/{ns}t").text or ""
            elif c.get("t") == "b":
                vals[col] = bool(int(c.find(f"{ns}v").text))
            else:
                v = c.find(f"{ns}v").text
                vals[col] = float(v) if "." in v or "e" in v else int(v)
        rows.append(vals)
    return name, rows


def test_export_xlsx_round_trip(spark, tmp_path):
    from ocr_system_spark.plans.sinks import export_xlsx
    df = spark.createDataFrame(
        [(1, 'has "quotes" & <tags>', 2.5, True),
         (2, "line\nbreak and ünicode é中", None, False),
         (3, None, -0.125, None)],
        schema="id long, txt string, num double, flag boolean")
    out = str(tmp_path / "results.xlsx")
    n = export_xlsx(df.orderBy("id"), out)
    assert n == 3
    name, rows = _read_xlsx(out)
    assert name == "Results"
    assert rows[0] == {"A": "id", "B": "txt", "C": "num", "D": "flag"}
    assert rows[1] == {"A": 1, "B": 'has "quotes" & <tags>', "C": 2.5, "D": True}
    assert rows[2]["B"] == "line\nbreak and ünicode é中"
    assert "C" not in rows[2]            # NULL -> absent cell
    assert rows[3] == {"A": 3, "C": -0.125}


def test_export_xlsx_row_cap(spark, tmp_path):
    import pytest as _pytest
    from ocr_system_spark.plans.sinks import export_xlsx
    df = spark.range(100)
    with _pytest.raises(ValueError, match="max_rows"):
        export_xlsx(df, str(tmp_path / "big.xlsx"), max_rows=50)
