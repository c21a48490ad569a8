"""Payload → extracted text operator (the "OCR stage" replacement).

Dispatches each page's binary payload on a magic-byte sniff — ``%PDF`` → PDF
layout pass, leading ``<`` → HTML main-content extraction — inside one
``mapInPandas`` stage. Unsupported/garbage payloads flow through the
errors-as-data path: NULL ``extracted_text`` + ``extract_ok=false`` (+ a note),
the distributed analog of the reference's try/except → notes column
(/root/reference/ocr/pipeline.py:85-92). No subprocess, no model, no
per-row Python at the Spark layer.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

import pandas as pd
from pyspark.sql import types as T

from ocr_system_spark.functions import html_extract, pdf_layout

SPAN_TYPE = T.ArrayType(
    T.StructType([
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
    ])
)


def _sniff(payload: Optional[bytes]) -> str:
    if not payload:
        return "empty"
    if payload.startswith(b"%PDF"):
        return "pdf"
    head = payload[:256].lstrip()
    if head.startswith(b"<"):
        return "html"
    return "unknown"


def extract_text_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Pure-pandas kernel: (url, html) in → (url, extracted_text, spans,
    payload_kind, n_bytes, extract_ok) out."""
    payloads: List[Optional[bytes]] = [
        bytes(b) if b is not None else None for b in pdf["html"].tolist()
    ]
    kinds = [_sniff(b) for b in payloads]

    # HTML docs are extracted in ONE batch kernel call (numpy across docs)
    html_in: List[Optional[str]] = [
        b.decode("utf-8", errors="replace") if k == "html" else None
        for b, k in zip(payloads, kinds)
    ]
    html_out = html_extract.extract_main_batch(html_in)

    texts: List[Optional[str]] = []
    spans_col: List[Optional[List[Tuple[int, int]]]] = []
    ok: List[bool] = []
    for i, (b, k) in enumerate(zip(payloads, kinds)):
        if k == "html":
            t, spans = html_out[i]
            texts.append(t)
            spans_col.append([{"start": s, "end": e} for s, e in spans] if t is not None else None)
            ok.append(t is not None)
        elif k == "pdf":
            try:
                t, spans = pdf_layout.extract_pdf_text_one(b)
            except Exception:
                t, spans = None, []
            texts.append(t)
            spans_col.append([{"start": s, "end": e} for s, e in spans] if t is not None else None)
            ok.append(t is not None)
        else:
            texts.append(None)
            spans_col.append(None)
            ok.append(False)
    return pd.DataFrame({
        "url": pdf["url"],
        "extracted_text": pd.Series(texts, index=pdf.index, dtype=object),
        "spans": pd.Series(spans_col, index=pdf.index, dtype=object),
        "payload_kind": pd.Series(kinds, index=pdf.index, dtype=object),
        "n_bytes": [len(b) if b else 0 for b in payloads],
        "extract_ok": ok,
    })
