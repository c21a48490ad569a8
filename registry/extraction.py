"""Extraction queries: the HTML main-text, static and dynamic field,
model-decoder, title/meta, multimodal and PII kernels."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_system_spark.operators.extract import extract_fields_batch
from ocr_system_spark.operators.model_extract import model_extract
from ocr_system_spark.operators.multimodal import (
    decode_media_features, documents_as_media, frame_sample_stub, resize_stub)
from ocr_system_spark.operators.payload import extract_text_batch
from ocr_system_spark.operators.scrub import PII_PATTERNS, with_pii_scrubbed
from ocr_system_spark.sources import tables

from ._shared import Builder


def _enriched_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" LIC-"), ((i * 37) % 90000 + 10000).cast("string"),
            F.lit(" issued "), F.lpad((i % 28 + 1).cast("string"), 2, "0"), F.lit("/05/2024"),
            F.lit(" REF-AB"), ((i * 13) % 9000 + 1000).cast("string"),
            F.lit(" Telecommunication Tower at "), (i % 400 + 1).cast("string"),
            F.lit(" Main St, Zone "), (i % 9 + 1).cast("string"),
            F.lit(" situated in province"),
            F.lit(" valid from "), (i % 27 + 1).cast("string"),
            F.lit("th May 2025 to 12.06.2026"),
            F.lit(" No. "), (i % 9999 + 1).cast("string"),
            F.lit(" (R"), (i % 98 + 1).cast("string"), F.lit(")"),
        ).alias("text"),
    )


def _keyed_kernel(df: DataFrame, out_fields: list[str], batch_fn) -> DataFrame:
    """Run an Arrow batch kernel over (doc_id, text|html) keyed by doc_id:
    the kernel sees doc_id as its string ``url``."""
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType(), False)]
        + [T.StructField(f, T.StringType(), True) for f in out_fields]
    )

    def run(batches):
        for batch in batches:
            ids = batch.column("doc_id")
            out = batch_fn(batch.append_column("url", ids.cast(pa.string())))
            yield pa.RecordBatch.from_arrays(
                [ids, *(out.column(f) for f in out_fields)], schema.names)

    return df.mapInArrow(run, schema)


def _fields_kernel(df: DataFrame, out_fields: list[str],
                   dynamic_config: dict | None = None) -> DataFrame:
    """``extract_fields_batch`` over (doc_id, text), keyed by doc_id."""
    return _keyed_kernel(
        df, out_fields,
        lambda batch: extract_fields_batch(batch, dynamic_config=dynamic_config))


def _static_fields_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fields_kernel(
        _enriched_docs(spark, sf_dir),
        ["license_id", "date", "reference_id", "address",
         "start_date", "end_date", "licenses", "renew_times", "notes"])


def queries() -> dict[str, Builder]:
    q: dict[str, Builder] = {}

    def q_html_main_extract(spark, sf_dir):
        pages = tables.pages_from_documents(spark, sf_dir)

        return _keyed_kernel(pages.select("doc_id", "html"), ["extracted_text"],
                             extract_text_batch)

    q["html_main_extract"] = q_html_main_extract

    def _mk_field_query(col):
        def fn(spark, sf_dir):
            return _static_fields_df(spark, sf_dir).select("doc_id", col)
        return fn

    for col in ["license_id", "date", "reference_id", "address",
                "start_date", "end_date", "licenses", "renew_times"]:
        q[f"field_{col}"] = _mk_field_query(col)

    def q_static_fields_raw(spark, sf_dir):
        """Static projection over RAW documents text (catch-all patterns +
        W1 non-empty filter + notes errors-as-data)."""
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return _fields_kernel(d, ["license_id", "reference_id", "notes"])

    q["static_fields_raw"] = q_static_fields_raw

    def q_nonempty_filter(spark, sf_dir):
        """W1 non-empty-result selection over the RAW static projection —
        drops the rows whose whole extraction came up empty (changes the
        row count, which is what the oracle checks)."""
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        res = _fields_kernel(d, ["license_id", "reference_id"])
        return res.filter(
            (F.trim(F.coalesce(F.col("license_id"), F.lit(""))) != "")
            | (F.trim(F.coalesce(F.col("reference_id"), F.lit(""))) != "")
        )

    q["nonempty_filter"] = q_nonempty_filter

    def q_multimodal_meta(spark, sf_dir):
        """Binary media column plumbing: typed metadata over opaque bytes."""
        d = tables.load(spark, sf_dir, "documents")
        feats = decode_media_features(documents_as_media(d))
        return feats.select("id", "media_type", "n_bytes")

    q["multimodal_meta"] = q_multimodal_meta

    def q_frame_sample(spark, sf_dir):
        """Frame-sampling plumbing: per-media frame slices (lengths are
        SQL-checkable even though the decode is stubbed)."""
        d = tables.load(spark, sf_dir, "documents")
        frames = frame_sample_stub(documents_as_media(d))
        return frames.select(
            "id", "frame_idx", F.octet_length("frame").alias("n_frame_bytes"))

    q["frame_sample"] = q_frame_sample

    def q_dynamic_fields(spark, sf_dir):
        """F9 dynamic multi-field projection over enriched text, including
        the ''-for-miss semantics (NOT null — differs from the static layer)
        and a deliberately invalid pattern that must be dropped driver-side."""
        cfg = {
            "permit": [r"\bLIC[-_\s]?(\d{3,})\b"],
            "zone": [r"Zone\s+(\d)\b"],
            "nothing": [r"([bad", r"\bZZZNOPE\b"],
        }
        return _fields_kernel(
            _enriched_docs(spark, sf_dir), ["permit", "zone", "nothing"], cfg)

    q["dynamic_fields"] = q_dynamic_fields

    def q_media_resize(spark, sf_dir):
        """Resize plumbing: output byte budget is SQL-checkable even with
        the decode stubbed (stride decimation: ceil-div step)."""
        d = tables.load(spark, sf_dir, "documents")
        out = resize_stub(documents_as_media(d), target_bytes=100)
        return out.select("id", "orig_bytes", "resized_bytes")

    q["media_resize"] = q_media_resize

    def q_model_extract(spark, sf_dir):
        """F15 model-UDF slot (reference's T5 branch shape): per-field
        decode + validation, deterministic heuristic decoder in this
        container. Enriched docs give known expected decodes."""
        d = _enriched_docs(spark, sf_dir).select(
            F.col("doc_id"), F.col("text"))
        out = model_extract(d, id_col="doc_id", text_col="text")
        return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                          "license_id", "date", "reference_id")

    q["model_extract"] = q_model_extract

    def q_pii_scrub(spark, sf_dir):
        """PII redaction over text enriched with synthetic email/IP/phone
        built from doc_id — pure JVM regexp chain; DuckDB re-runs the same
        RE2-safe patterns over the same construction."""
        d = tables.load(spark, sf_dir, "documents")
        i = F.col("doc_id")
        enriched = d.select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" contact user"), i.cast("string"),
                F.lit("@example"), (i % 7).cast("string"), F.lit(".com"),
                F.lit(" from 10."), (i % 256).cast("string"),
                F.lit("."), ((i * 3) % 256).cast("string"),
                F.lit("."), (i % 200 + 1).cast("string"),
                F.lit(" call +1 ("), (i % 900 + 100).cast("string"),
                F.lit(") "), (i % 900 + 100).cast("string"),
                F.lit("-"), (i % 9000 + 1000).cast("string"),
            ).alias("text"),
        )
        return with_pii_scrubbed(enriched).select(
            "doc_id", "scrubbed", "n_email", "n_ipv4", "n_phone")

    q["pii_scrub"] = q_pii_scrub

    def q_html_title_meta(spark, sf_dir):
        """Trafilatura-class METADATA extraction riding along with the
        main-content pass: page title (first <title>, ASCII-whitespace
        collapsed) + h1 count over deterministically constructed pages.
        Regex-as-spec kernel (functions/html_extract.py::
        extract_title_batch) — the oracle replays page construction and
        both patterns verbatim in SQL."""
        html_expr = F.concat(
            F.lit("<html><head><title>  Doc "),
            F.col("doc_id").cast("string"),
            F.lit("\n("), F.col("lang"),
            F.lit(")  </title></head><body><h1>A</h1>"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit('<h1 class="x">B</h1>')).otherwise(F.lit("")),
            F.lit("<p>"), F.col("text"), F.lit("</p></body></html>"))
        src = (tables.load(spark, sf_dir, "documents")
               .select("doc_id", html_expr.alias("html")))
        schema = T.StructType([
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("title", T.StringType(), True),
            T.StructField("n_h1", T.IntegerType(), True)])

        def run(batches):
            from ocr_system_spark.functions.html_extract import (
                extract_title_batch)
            for batch in batches:
                meta = extract_title_batch(batch.column("html").to_pylist())
                yield pa.RecordBatch.from_arrays(
                    [batch.column("doc_id"),
                     pa.array([t for t, _ in meta], pa.string()),
                     pa.array([n for _, n in meta], pa.int32())],
                    schema.names)

        return src.mapInArrow(run, schema)

    q["html_title_meta"] = q_html_title_meta

    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    # extraction kernels vs INDEPENDENTLY computed expectations
    o["html_main_extract"] = (
        "SELECT doc_id, text AS extracted_text FROM documents"
    )
    o["field_license_id"] = (
        "SELECT doc_id, 'LIC-' || CAST(doc_id*37 % 90000 + 10000 AS VARCHAR) AS license_id FROM documents"
    )
    o["field_date"] = (
        "SELECT doc_id, lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || '/05/2024' AS date FROM documents"
    )
    o["field_reference_id"] = (
        "SELECT doc_id, 'AB' || CAST(doc_id*13 % 9000 + 1000 AS VARCHAR) AS reference_id FROM documents"
    )
    o["field_address"] = (
        "SELECT doc_id, CAST(doc_id % 400 + 1 AS VARCHAR) || ' Main St, Zone ' || CAST(doc_id % 9 + 1 AS VARCHAR) AS address FROM documents"
    )
    o["field_start_date"] = (
        "SELECT doc_id, CAST(doc_id % 27 + 1 AS VARCHAR) || '.5.2025' AS start_date FROM documents"
    )
    o["field_end_date"] = (
        "SELECT doc_id, '12.06.2026' AS end_date FROM documents"
    )
    o["field_licenses"] = (
        "SELECT doc_id, 'NO. ' || CAST(doc_id % 9999 + 1 AS VARCHAR) || ' (R' || CAST(doc_id % 98 + 1 AS VARCHAR) || ')' AS licenses FROM documents"
    )
    o["field_renew_times"] = (
        "SELECT doc_id, CAST(doc_id % 98 + 1 AS VARCHAR) || ' times' AS renew_times FROM documents"
    )
    # raw-text static projection: DuckDB RE2 shadow of the priority chains
    o["static_fields_raw"] = """
        SELECT doc_id,
               COALESCE(
                 NULLIF(regexp_extract(text, '(?i)\\bLIC[-_\\s]?\\d{3,}\\b', 0), ''),
                 NULLIF(regexp_extract(text, '(?i)\\bLicense\\s*ID[:#-]*\\s*([A-Z0-9]{6,20})\\b', 1), ''),
                 NULLIF(regexp_extract(text, '(?i)\\b[A-Z0-9]{6,20}\\b', 0), '')
               ) AS license_id,
               COALESCE(
                 NULLIF(regexp_extract(text, '(?i)\\bREF[-_\\s]*([A-Z0-9]{4,10})\\b', 1), ''),
                 NULLIF(regexp_extract(text, '(?i)\\b(?:Reference|Ref)[\\s:#-]*([A-Z0-9-]{4,10})\\b', 1), ''),
                 NULLIF(regexp_extract(text, '(?i)\\b[A-Z0-9]{4,10}\\b', 0), '')
               ) AS reference_id,
               CASE WHEN
                 COALESCE(
                   NULLIF(regexp_extract(text, '(?i)\\bLIC[-_\\s]?\\d{3,}\\b', 0), ''),
                   NULLIF(regexp_extract(text, '(?i)\\bLicense\\s*ID[:#-]*\\s*([A-Z0-9]{6,20})\\b', 1), ''),
                   NULLIF(regexp_extract(text, '(?i)\\b[A-Z0-9]{6,20}\\b', 0), '')
                 ) IS NULL
                 AND regexp_extract(text, '(?i)\\b\\d{2}[/-]\\d{2}[/-]\\d{4}\\b', 0) = ''
                 AND regexp_extract(text, '(?i)\\b\\d{4}[/-]\\d{2}[/-]\\d{2}\\b', 0) = ''
                 AND COALESCE(
                   NULLIF(regexp_extract(text, '(?i)\\bREF[-_\\s]*([A-Z0-9]{4,10})\\b', 1), ''),
                   NULLIF(regexp_extract(text, '(?i)\\b(?:Reference|Ref)[\\s:#-]*([A-Z0-9-]{4,10})\\b', 1), ''),
                   NULLIF(regexp_extract(text, '(?i)\\b[A-Z0-9]{4,10}\\b', 0), '')
                 ) IS NULL
               THEN 'No patterns matched' ELSE NULL END AS notes
        FROM documents
    """

    o["nonempty_filter"] = """
        SELECT * FROM (
            SELECT doc_id,
                   COALESCE(
                     NULLIF(regexp_extract(text, '(?i)\\bLIC[-_\\s]?\\d{3,}\\b', 0), ''),
                     NULLIF(regexp_extract(text, '(?i)\\bLicense\\s*ID[:#-]*\\s*([A-Z0-9]{6,20})\\b', 1), ''),
                     NULLIF(regexp_extract(text, '(?i)\\b[A-Z0-9]{6,20}\\b', 0), '')
                   ) AS license_id,
                   COALESCE(
                     NULLIF(regexp_extract(text, '(?i)\\bREF[-_\\s]*([A-Z0-9]{4,10})\\b', 1), ''),
                     NULLIF(regexp_extract(text, '(?i)\\b(?:Reference|Ref)[\\s:#-]*([A-Z0-9-]{4,10})\\b', 1), ''),
                     NULLIF(regexp_extract(text, '(?i)\\b[A-Z0-9]{4,10}\\b', 0), '')
                   ) AS reference_id
            FROM documents) t
        WHERE trim(COALESCE(license_id, '')) != ''
           OR trim(COALESCE(reference_id, '')) != ''
    """
    o["multimodal_meta"] = """
        SELECT doc_id AS id,
               CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
                               ELSE 'video/mp4' END AS media_type,
               CAST(strlen(text) AS BIGINT) AS n_bytes
        FROM documents
    """
    o["frame_sample"] = """
        SELECT doc_id AS id, CAST(f AS INTEGER) AS frame_idx,
               CAST(least(greatest(strlen(text) - f * greatest(strlen(text) // 4, 1), 0),
                          greatest(strlen(text) // 4, 1)) AS BIGINT) AS n_frame_bytes
        FROM documents, range(4) r(f)
    """

    o["dynamic_fields"] = """
        SELECT doc_id,
               CAST(doc_id*37 % 90000 + 10000 AS VARCHAR) AS permit,
               CAST(doc_id % 9 + 1 AS VARCHAR) AS zone,
               '' AS nothing
        FROM documents
    """

    o["media_resize"] = """
        SELECT doc_id AS id,
               CAST(strlen(text) AS BIGINT) AS orig_bytes,
               CAST(CASE WHEN strlen(text) <= 100 THEN strlen(text)
                    ELSE CAST(ceil(strlen(text) * 1.0 /
                         CAST(ceil(strlen(text) / 100.0) AS BIGINT)) AS BIGINT)
                    END AS BIGINT) AS resized_bytes
        FROM documents
    """

    o["model_extract"] = """
        SELECT doc_id,
               'LIC-' || CAST(doc_id*37 % 90000 + 10000 AS VARCHAR) AS license_id,
               lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || '/05/2024' AS date,
               'REF-AB' || CAST(doc_id*13 % 9000 + 1000 AS VARCHAR) AS reference_id
        FROM documents
    """

    _pii_enrich = """
        SELECT doc_id,
               text
               || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example' || CAST(doc_id % 7 AS VARCHAR) || '.com'
               || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
               || '.' || CAST(doc_id * 3 % 256 AS VARCHAR)
               || '.' || CAST(doc_id % 200 + 1 AS VARCHAR)
               || ' call +1 (' || CAST(doc_id % 900 + 100 AS VARCHAR)
               || ') ' || CAST(doc_id % 900 + 100 AS VARCHAR)
               || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
               AS text
        FROM documents
    """
    # DuckDB single-quoted literals keep backslashes verbatim — embed the
    # patterns unescaped so RE2 sees exactly what Java's engine sees
    _scrub_sql = "text"
    for _n, _pat, _repl in PII_PATTERNS:
        _scrub_sql = (f"regexp_replace({_scrub_sql}, '{_pat}', "
                      f"'{_repl}', 'g')")
    _count_cols = ", ".join(
        f"len(regexp_extract_all(text, '{_pat}')) AS n_{_n}"
        for _n, _pat, _r in PII_PATTERNS)
    o["pii_scrub"] = f"""
        SELECT doc_id, {_scrub_sql} AS scrubbed, {_count_cols}
        FROM ({_pii_enrich})
    """

    o["html_title_meta"] = """
        WITH h AS (
            SELECT doc_id,
                   '<html><head><title>  Doc ' || CAST(doc_id AS VARCHAR)
                   || chr(10) || '(' || lang
                   || ')  </title></head><body><h1>A</h1>'
                   || CASE WHEN doc_id % 3 = 0
                           THEN '<h1 class="x">B</h1>' ELSE '' END
                   || '<p>' || text || '</p></body></html>' AS html
            FROM documents)
        SELECT doc_id,
               trim(regexp_replace(
                   coalesce(regexp_extract(
                       html, '(?is)<title[^>]*>(.*?)</title>', 1), ''),
                   '[\t\n\f\r ]+', ' ', 'g')) AS title,
               CAST(len(regexp_extract_all(
                   html, '(?i)<h1[\t\n\f\r >]')) AS INTEGER) AS n_h1
        FROM h
    """
    return o
