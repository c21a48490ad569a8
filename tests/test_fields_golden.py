"""Byte-identity of the regex field layer vs reference-generated goldens.

The goldens in tests/fixtures/golden_fields_2000.parquet were produced by
running the REFERENCE extractor (/root/reference/ocr/*) itself over the
deterministic synthetic pages (tools/make_goldens.py). Every assertion here
is at the encoded-bytes level per url (FIXTURES.md §2).
"""

from __future__ import annotations

import pandas as pd
import pytest

from ocr_system_spark.functions import fields


def _assert_bytes_equal(ours: list, golden: pd.Series, col: str) -> None:
    gold = golden.tolist()
    assert len(ours) == len(gold)
    for i, (o, g) in enumerate(zip(ours, gold)):
        g = None if g is None or (isinstance(g, float) and pd.isna(g)) else g
        if o is None or g is None:
            assert o is g, f"{col}[{i}]: ours={o!r} golden={g!r}"
        else:
            assert o.encode() == g.encode(), f"{col}[{i}]: ours={o!r} golden={g!r}"


def test_static_fields_byte_identical(pages_fixture, golden_fields):
    out = fields.extract_static_fields(pages_fixture["text"])
    for col in ["license_id", "date", "reference_id"]:
        _assert_bytes_equal(out[col], golden_fields[col], col)


def test_address_byte_identical(pages_fixture, golden_fields):
    out = fields.extract_address(pages_fixture["text"])
    _assert_bytes_equal(out, golden_fields["address"], "address")


def test_date_range_byte_identical(pages_fixture, golden_fields):
    out = fields.extract_date_range(pages_fixture["text"])
    _assert_bytes_equal(out["start_date"], golden_fields["start_date"], "start_date")
    _assert_bytes_equal(out["end_date"], golden_fields["end_date"], "end_date")


def test_licenses_first_page_byte_identical(pages_fixture, golden_fields):
    out = fields.extract_licenses_first_page(pages_fixture["text"])
    _assert_bytes_equal(out, golden_fields["licenses"], "licenses")


def test_renew_times_byte_identical(pages_fixture, golden_fields):
    lic = fields.extract_licenses_first_page(pages_fixture["text"])
    addr = fields.extract_address(pages_fixture["text"])
    out = fields.derived_summary(lic, addr)
    _assert_bytes_equal(out, golden_fields["renew_times"], "renew_times")


def test_notes_byte_identical(pages_fixture, golden_fields):
    st = fields.extract_static_fields(pages_fixture["text"])
    notes = fields.notes_for(st["license_id"], st["date"], st["reference_id"])
    _assert_bytes_equal(notes, golden_fields["notes"], "notes")


def test_dynamic_fields_byte_identical(pages_fixture, golden_fields):
    # same config as tools/make_goldens.py, including one invalid regex that
    # must be skipped without failing the whole field
    cfg = {
        "permit": [r"\bLIC[-_\s]?(\d{3,})\b", r"\bNo\.?\s*(\d{1,10})\b"],
        "year": [r"\b(20\d{2})\b"],
        "badpat": [r"([unclosed", r"\bREF[-_\s]*([A-Z0-9]{4,10})\b"],
    }
    compiled = fields.compile_field_patterns(cfg)
    out = fields.extract_dynamic_fields(pages_fixture["text"], compiled)
    for col in ["permit", "year", "badpat"]:
        _assert_bytes_equal(out[col], golden_fields[col], col)


# ---- adversarial scalar cases (SURVEY §5.2.2) ------------------------------

def test_zero_width_and_cr_noise():
    # zwsp/CR runs are replaced with a space BEFORE matching, so they appear
    # as plain spaces in the captured span
    assert fields.extract_address_one(
        "Telecommunication​\rTower at 12 Zero​Width Rd situated here"
    ) == "12 Zero Width Rd"


def test_ocr_quote_date_and_nonpadded_month():
    s, e = fields.extract_date_range_one('15" May 2025 to 1.1.2026')
    assert (s, e) == ("15.5.2025", "1.1.2026")
    s, e = fields.extract_date_range_one("10th May 2025 to 12.06.2026")
    assert (s, e) == ("10.5.2025", "12.06.2026")  # numeric side keeps zero-pad


def test_fullwidth_parens_and_o_confusion():
    # fullwidth parens normalize to ASCII; 'RO05' is NOT repaired (the O is
    # not between two digits), 'R1O5' IS
    assert fields.extract_all_license_numbers_one("ref TRC 881 （RO05）") == ["TRC 881 (RO05)"]
    assert fields.normalize_license_text("(RO05)") == "(RO05)"
    assert fields.normalize_license_text("(R1O5)") == "(R105)"


def test_type_a_beats_type_b_wholesale():
    txt = "45/678 R9 and also No. 12 (R3)"
    assert fields.extract_all_license_numbers_one(txt) == ["NO. 12 (R3)"]
    assert fields.extract_all_license_numbers_one("45/678 R9 only") == ["45/678 R9"]


def test_first_page_restriction():
    txt = "nothing here\n\n--- PAGE BREAK ---\n\nNo. 999 (R99)"
    assert fields.extract_licenses_first_page_one(txt) == ""


def test_dynamic_empty_string_vs_none():
    compiled = fields.compile_field_patterns({"f": [r"\bZZZ\b"]})
    assert fields.extract_dynamic_fields_one("no match", compiled) == {"f": ""}
    assert fields.extract_static_fields_one("")[0] is None


def test_renew_leading_zeros_dropped():
    assert fields.derived_summary_one("NO. 1 (R0012)", "") == "12 times"
    assert fields.derived_summary_one("ABC (RX)", "addr") == "ABC (RX) | addr"
    assert fields.derived_summary_one("", "only addr") == "only addr"
