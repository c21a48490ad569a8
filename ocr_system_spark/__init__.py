"""ocr_system_spark — a PySpark-native web-scale extraction engine.

A from-scratch reimplementation of the query/data-processing capabilities of
MokshaDill/OCR-System (reference at /root/reference, studied for behavior
only) as an idiomatic PySpark pipeline:

* pages table ``(url, warc_ts, html:binary, text, lang)`` in, results table
  out — the reference's "folder of PDFs → CSV of extracted fields" dataflow
  re-expressed as ``spark.read.parquet → mapInArrow(extract) → write``;
* the reference's regex field-extraction layer (its ``ocr/extract.py``,
  ``ocr/dynamic.py``, ``ocr/postprocess.py``) reproduced byte-identically in
  vectorized, compile-once batch kernels (:mod:`ocr_system_spark.functions.fields`);
* the reference's rasterize+OCR stage (poppler+tesseract subprocesses)
  replaced by deterministic HTML main-content extraction
  (:mod:`ocr_system_spark.functions.html_extract`) and a PDF layout pass
  (:mod:`ocr_system_spark.functions.pdf_layout`) inside Arrow-batched UDFs;
* explicit partitioning/skew handling, per-partition metrics, and
  checkpoint-manifest resume (:mod:`ocr_system_spark.plans.pipeline`,
  :mod:`ocr_system_spark.plans.resume`).
"""

from ocr_system_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
