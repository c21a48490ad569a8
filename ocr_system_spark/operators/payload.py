"""Payload → extracted text operator (the "OCR stage" replacement).

Dispatches each page's binary payload on a magic-byte sniff — ``%PDF`` → PDF
layout pass, leading ``<`` → HTML main-content extraction — inside one
``mapInArrow`` stage. Unsupported/garbage payloads flow through the
errors-as-data path: NULL ``extracted_text`` + ``extract_ok=false`` (+ a note),
the distributed analog of the reference's try/except → notes column
(/root/reference/ocr/pipeline.py:85-92). No subprocess, no model, no
per-row Python at the Spark layer.
"""

from __future__ import annotations

from typing import List, Optional

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ocr_system_spark.functions import html_extract, pdf_layout

SPAN_TYPE = T.ArrayType(
    T.StructType([
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
    ])
)
_SPAN_ARROW = to_arrow_type(SPAN_TYPE)


def _sniff(payload: Optional[bytes]) -> str:
    if not payload:
        return "empty"
    if payload.startswith(b"%PDF"):
        return "pdf"
    head = payload[:256].lstrip()
    if head.startswith(b"<"):
        return "html"
    return "unknown"


def extract_text_batch(batch) -> pa.RecordBatch:
    """Batch kernel: (url, html) in → (url, extracted_text, spans,
    payload_kind, n_bytes, extract_ok) out. ``batch`` is anything whose
    columns have ``.tolist()`` (an Arrow record batch or a pandas frame)."""
    payloads: List[Optional[bytes]] = [
        bytes(b) if b is not None else None for b in batch["html"].tolist()
    ]
    kinds = [_sniff(b) for b in payloads]

    # HTML docs are extracted in ONE batch kernel call (numpy across docs)
    html_in: List[Optional[str]] = [
        b.decode("utf-8", errors="replace") if k == "html" else None
        for b, k in zip(payloads, kinds)
    ]
    html_out = html_extract.extract_main_batch(html_in)

    # spans go into flat offset/start/end arrays: per-span dicts cost ~3x
    texts: List[Optional[str]] = []
    offsets, starts, ends = [0], [], []
    for i, (b, k) in enumerate(zip(payloads, kinds)):
        t, spans = None, ()
        if k == "html":
            t, spans = html_out[i]
        elif k == "pdf":
            try:
                t, spans = pdf_layout.extract_pdf_text_one(b)
            except Exception:  # malformed PDF: fails as data
                pass
        texts.append(t)
        if t is not None:
            starts.extend(s for s, _ in spans)
            ends.extend(e for _, e in spans)
        offsets.append(len(starts))
    ok = pa.array([t is not None for t in texts])
    spans_col = pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()),
        pa.StructArray.from_arrays(
            [pa.array(starts, pa.int32()), pa.array(ends, pa.int32())],
            fields=list(_SPAN_ARROW.value_type)),
        type=_SPAN_ARROW, mask=pc.invert(ok))
    return pa.RecordBatch.from_pydict({
        "url": pa.array(batch["url"].tolist(), pa.string()),
        "extracted_text": pa.array(texts, pa.string()),
        "spans": spans_col,
        "payload_kind": pa.array(kinds, pa.string()),
        "n_bytes": pa.array([len(b) if b else 0 for b in payloads], pa.int64()),
        "extract_ok": ok,
    })
