"""Field-extraction operators (the reference's "Final Extract" stage as one
fused Spark projection).

The reference runs four separate passes over its cached text table — dynamic
fields, first-page licenses, a dict-join back, then address+date-range per
row (/root/reference/gui/app.py:464-501, an O(n²) re-lookup). Here all
extractors read the same ``text`` column once inside a single
``mapInArrow`` stage: one scan, no join, no shuffle.
"""

from __future__ import annotations

from typing import Dict, List, Optional

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ocr_system_spark.functions import fields

from ._rowmap import map_rows

# Result schema: the reference's ExtractionResult row
# (/root/reference/ocr/models.py:7-16) keyed by url, plus the derived
# renew_times column and first-page licenses.
RESULT_FIELDS: List[str] = [
    "license_id", "date", "reference_id", "address",
    "start_date", "end_date", "licenses", "renew_times", "notes",
]


def result_schema(dynamic_fields: Optional[List[str]] = None) -> T.StructType:
    cols = [T.StructField("url", T.StringType(), False)]
    cols += [T.StructField(f, T.StringType(), True) for f in RESULT_FIELDS]
    for f in dynamic_fields or []:
        cols.append(T.StructField(f, T.StringType(), True))
    return T.StructType(cols)


def extract_fields_batch(
    batch,
    dynamic_config: Optional[Dict[str, List[str]]] = None,
) -> pa.RecordBatch:
    """Batch kernel: url+text in, full result row out. ``batch`` is anything
    whose columns have ``.tolist()`` (an Arrow record batch or a pandas
    frame), so it is unit-testable without a JVM."""
    texts = batch["text"]
    out = {"url": batch["url"].tolist(), **fields.extract_static_fields(texts)}
    out["address"] = fields.extract_address(texts)
    out.update(fields.extract_date_range(texts))
    out["licenses"] = fields.extract_licenses_first_page(texts)
    out["renew_times"] = fields.derived_summary(out["licenses"], out["address"])
    out["notes"] = fields.notes_for(out["license_id"], out["date"],
                                    out["reference_id"])
    if dynamic_config:
        compiled = fields.compile_field_patterns(dynamic_config)
        out.update(fields.extract_dynamic_fields(texts, compiled))
    names = ["url", *RESULT_FIELDS, *(dynamic_config or ())]
    return pa.RecordBatch.from_arrays(
        [pa.array(out[n], pa.string()) for n in names], names=names)


def has_data_filter(results: DataFrame,
                    dynamic_fields: Optional[List[str]] = None) -> DataFrame:
    """W1 non-empty-result selection: keep a row iff ANY of licenses /
    address / start_date / end_date / user fields is non-blank after trim
    (reference: gui/app.py:487-497 — this predicate changes the output row
    count, which is what the oracle checks)."""
    from pyspark.sql import functions as F
    cols = ["licenses", "address", "start_date", "end_date"] + (dynamic_fields or [])
    pred = None
    for c in cols:
        p = F.trim(F.coalesce(F.col(c), F.lit(""))) != ""
        pred = p if pred is None else (pred | p)
    return results.filter(pred)


def with_custom_column(
    results: DataFrame,
    fn,
    name: str = "summary",
) -> DataFrame:
    """The reference's scalar-UDF extension point (`compute_new_column`,
    ocr/postprocess.py:8): a user-supplied per-row function over the result
    row, here as an Arrow-batched slot — fn(pyarrow.RecordBatch) -> one
    string (or None) per row, as a list or an Arrow array."""
    in_cols = [c for c in results.columns if c != "spans"]

    def kernel(batch):
        return None, [fn(batch.select(in_cols))]

    return map_rows(results, kernel, [T.StructField(name, T.StringType())])


def extract_fields(
    pages: DataFrame,
    dynamic_config: Optional[Dict[str, List[str]]] = None,
) -> DataFrame:
    """pages(url, …, text, …) → results(url, license_id, …, notes[, dynamic]).

    Narrow (no shuffle); Catalyst prunes the scan to (url, text) because we
    select before the UDF — html bytes never cross the Python boundary here.
    """
    dyn_fields = list(dynamic_config.keys()) if dynamic_config else None

    def run(batches):
        for batch in batches:
            yield extract_fields_batch(batch, dynamic_config)

    return pages.select("url", "text").mapInArrow(run, result_schema(dyn_fields))
