"""Text normalization — the unicode-fixing pass (ftfy/CCNet-style) that
runs BEFORE tokenization and dedup so that visually-identical text hashes
identically.

Three fixes, in order:
  1. line endings: CRLF → LF (one JVM regexp_replace) — the line-dedup
     family's boundary contract (operators/lines docstring) assumes it;
  2. zero-width characters stripped (ZWSP U+200B, ZWNJ U+200C, ZWJ
     U+200D, BOM U+FEFF) — invisible codepoints that break exact/
     fingerprint dedup between otherwise identical pages;
  3. Unicode NFC normalization — composed forms (e + COMBINING ACUTE →
     é), so the same rendered text is the same bytes.  NFC needs a real
     Unicode table, so this step is an Arrow-batched kernel
     (``unicodedata.normalize``); steps 1-2 stay JVM-side.

Cross-engine: DuckDB's ``nfc_normalize`` and CPython's ``unicodedata``
agree on NFC (both implement the Unicode standard; parity verified for
the constructions the oracle replays).  Null text → empty string
(errors-as-data, as everywhere in this engine).

Scale: row-local, no shuffle; the kernel is the cheap kind of Python
(one library call per batch string, Arrow transfer both ways).
"""

from __future__ import annotations

import unicodedata

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._rowmap import map_rows

__all__ = ["normalize_text"]

_ZERO_WIDTH = "[\\u200b\\u200c\\u200d\\ufeff]"


def normalize_text(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   out_col: str = "norm_text") -> DataFrame:
    """(id, norm_text): CRLF→LF, zero-width strip, Unicode NFC."""
    pre = F.regexp_replace(
        F.coalesce(F.col(text_col), F.lit("")), "\r\n", "\n")
    pre = F.regexp_replace(pre, _ZERO_WIDTH, "")

    def nfc(batch):
        return None, [[unicodedata.normalize("NFC", t)
                       for t in batch.column(out_col).to_pylist()]]

    return map_rows(df.select(F.col(id_col).alias("id"), pre.alias(out_col)),
                    nfc, [T.StructField(out_col, T.StringType())])
