"""HTML main-content + PDF layout kernels vs generator-known answers.

The generator records the injected main content (``expected_main``) — an
oracle INDEPENDENT of the kernels: for HTML it is the paragraph text that was
wrapped in the <main><article> subtree before boilerplate chrome was added;
for PDF it is the reading-order text implied by the synthetic layout.
"""

from __future__ import annotations

import numpy as np

from ocr_system_spark.functions.html_extract import extract_main_batch
from ocr_system_spark.functions.pdf_layout import extract_pdf_text_one, is_pdf_payload
from ocr_system_spark.operators.payload import extract_text_batch


def test_html_main_content_exact(pages_fixture):
    rows = pages_fixture[pages_fixture.payload_kind == "html"]
    texts = [bytes(b).decode("utf-8", errors="replace") for b in rows["html"]]
    res = extract_main_batch(texts)
    for (got, spans), exp, url in zip(res, rows["expected_main"], rows["url"]):
        assert got == exp, f"{url}: {got[:80]!r} != {exp[:80]!r}"
        assert spans, url


def test_html_spans_point_into_source(pages_fixture):
    rows = pages_fixture[pages_fixture.payload_kind == "html"].head(50)
    texts = [bytes(b).decode("utf-8", errors="replace") for b in rows["html"]]
    res = extract_main_batch(texts)
    for (got, spans), src in zip(res, texts):
        for start, end in spans:
            frag = src[start:end].strip()
            # every span's (whitespace-normalized) source fragment must appear
            # in the extracted text
            norm = " ".join(frag.split())
            assert norm in got


def test_pdf_reading_order_exact(pages_fixture):
    rows = pages_fixture[pages_fixture.payload_kind == "pdf"]
    assert len(rows) > 10
    for b, exp, url in zip(rows["html"], rows["expected_main"], rows["url"]):
        got, spans = extract_pdf_text_one(bytes(b))
        assert got == exp, url
        assert len(spans) == sum(1 for ln in got.split("\n") if not ln.startswith("--- PAGE") and ln)


def test_payload_dispatch_errors_as_data(pages_fixture):
    batch = pages_fixture[["url", "html"]].head(500).reset_index(drop=True)
    out = extract_text_batch(batch).to_pandas()
    kinds = pages_fixture["payload_kind"].head(500).reset_index(drop=True)
    # html/pdf rows extract ok; empty/garbage rows fail without raising
    assert (out.loc[kinds == "html", "extract_ok"]).all()
    bad = out.loc[kinds == "bad"]
    assert len(bad) > 0
    # 'bad' payloads either degrade to a parse (lenient) or fail cleanly
    assert (~bad["extract_ok"] | bad["extracted_text"].notna()).all()
    assert (out["n_bytes"] >= 0).all()


def test_malformed_payloads_never_raise():
    import pandas as pd
    cases = [b"", b"\x00\xff\xfe", b"%PDF-SYN1\nPAGE\nBT 1 1 Td (x", b"<div", b"<p>ok</p>",
             b"%PDF-1.4 real pdf header", b"<" * 10000, b"<a href='x'>" * 500]
    out = extract_text_batch(pd.DataFrame({"url": [str(i) for i in range(len(cases))],
                                           "html": cases})).to_pandas()
    assert len(out) == len(cases)
    assert not out.loc[0, "extract_ok"]          # empty
    assert not out.loc[1, "extract_ok"]          # garbage
    assert out.loc[5, "extract_ok"] in (False,)  # real-PDF magic, wrong grammar


def test_determinism_run_twice(pages_fixture):
    rows = pages_fixture[pages_fixture.payload_kind == "html"].head(100)
    texts = [bytes(b).decode("utf-8", errors="replace") for b in rows["html"]]
    a = extract_main_batch(texts)
    b = extract_main_batch(texts)
    assert a == b


def test_batch_vs_single_doc_identical(pages_fixture):
    """Batch-wide numpy arrays must not leak state across documents."""
    rows = pages_fixture[pages_fixture.payload_kind == "html"].head(30)
    texts = [bytes(b).decode("utf-8", errors="replace") for b in rows["html"]]
    batch = extract_main_batch(texts)
    singles = [extract_main_batch([t])[0] for t in texts]
    assert batch == singles


# ---------------------------------------------------------------------------
# metadata kernel (title / h1 count)
# ---------------------------------------------------------------------------

def test_title_kernel_semantics():
    from ocr_system_spark.functions.html_extract import extract_title_batch

    cases = [
        # first <title> wins; attrs allowed; case-insensitive; multiline
        ('<HTML><head><TITLE class="x">  A \n\t B </TITLE>'
         '<title>second</title></head><body><h1>x</h1><H1 id=2>y</h1>',
         ("A B", 2)),
        (None, ("", 0)),
        ("", ("", 0)),
        ("<p>no title</p>", ("", 0)),
        # unterminated title -> no match; <h1x> is NOT an h1 open
        ("<title>open forever <h1>z</h1> <h1x>no</h1x>", ("", 1)),
        # h1 at end-of-string without delimiter does not count (tag-shaped
        # means '<h1' followed by space/>/newline)
        ("<title>t</title><h1", ("t", 0)),
        ("<title></title><h1\n>a</h1>", ("", 1)),
    ]
    got = extract_title_batch([c for c, _ in cases])
    assert got == [e for _, e in cases]


def test_title_kernel_batch_isolation():
    from ocr_system_spark.functions.html_extract import extract_title_batch

    texts = ["<title>a</title>", None, "<h1>only</h1>", "<title> b\nc </title>"]
    assert extract_title_batch(texts) == [
        extract_title_batch([t])[0] for t in texts]
