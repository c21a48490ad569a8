"""The end-to-end extraction job (SURVEY §3.1's Spark shape):

    read(pages) → salt-bucket rebalance (skew-split oversize blobs)
                → ONE fused mapInArrow (payload→text + regex fields)
                → write results partitioned by bucket
                → metrics agg + checkpoint manifests

One pass over the data: the reference runs OCR, dynamic-field extraction,
license extraction, and two dict-joins as FOUR separate passes over its
cached rows (/root/reference/gui/app.py:293,464-501); here every extractor
reads the same Arrow batch once, so there is no join and the only shuffle is
the explicit bucket rebalance.

Scale design (100 TB / 10^12 docs):
* ``n_buckets`` is the unit of checkpointing and output atomicity — at
  cluster scale set it ≫ executor count (e.g. 2^14) so stragglers re-run
  cheaply; bucket = pmod(xxhash64(url), n_buckets) balances hosts evenly.
* skew-split: rows with payloads > ``skew_bytes`` are routed to a dedicated
  finer-grained re-salt (buckets [n_buckets, n_buckets+skew_buckets)) so one
  100 MB page cannot straggle a whole normal bucket.
* the bucket exchange is the only one, and AQE sizes it by bytes: it is a
  rebalance hashed on bucket_id into ``n_buckets + skew_buckets`` initial
  partitions, and AQE coalesces the read side from the runtime shuffle
  sizes (keeping at least default-parallelism partitions once the data is
  big enough) and splits oversized partitions. The Python task count thus
  follows the data volume, not the bucket count; a bucket may span tasks,
  and one task may write several buckets.
"""

from __future__ import annotations

import os
from typing import Dict, List, Optional

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_system_spark.operators.extract import (
    RESULT_FIELDS,
    extract_fields_batch,
)
from ocr_system_spark.operators.payload import SPAN_TYPE, extract_text_batch
from ocr_system_spark.plans import resume as resume_mod


def full_result_schema(dynamic_fields: Optional[List[str]] = None) -> T.StructType:
    cols = [
        T.StructField("url", T.StringType(), False),
        T.StructField("bucket_id", T.IntegerType(), False),
        T.StructField("payload_kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("extract_ok", T.BooleanType(), False),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("spans", SPAN_TYPE, True),
    ]
    cols += [T.StructField(f, T.StringType(), True) for f in RESULT_FIELDS]
    for f in dynamic_fields or []:
        cols.append(T.StructField(f, T.StringType(), True))
    return T.StructType(cols)


def with_buckets(
    pages: DataFrame,
    n_buckets: int = 64,
    skew_bytes: int = 1 << 20,
    skew_buckets: int = 16,
) -> DataFrame:
    """Assign the salt bucket. Oversized payloads get their own finer salt
    space so giant blobs spread across dedicated buckets instead of
    straggling a normal one."""
    h = F.xxhash64(F.col("url"))
    normal = F.pmod(h, F.lit(n_buckets)).cast("int")
    skewed = (F.lit(n_buckets) + F.pmod(h, F.lit(skew_buckets))).cast("int")
    return pages.withColumn(
        "bucket_id",
        F.when(F.length(F.col("html")) > skew_bytes, skewed).otherwise(normal),
    )


def _extract_batch(
    batch: pa.RecordBatch,
    dynamic_config: Optional[Dict[str, List[str]]] = None,
) -> pa.RecordBatch:
    """One batch of the fused stage: (url, bucket_id, html, text) in, the
    ``full_result_schema`` columns out."""
    text_part = extract_text_batch(batch)
    field_part = extract_fields_batch(batch, dynamic_config)
    cols = {"url": batch.column("url"),
            "bucket_id": batch.column("bucket_id").cast(pa.int32())}
    for c in ("payload_kind", "n_bytes", "extract_ok", "extracted_text", "spans"):
        cols[c] = text_part.column(c)
    cols.update(zip(field_part.schema.names[1:], field_part.columns[1:]))
    return pa.RecordBatch.from_pydict(cols)


def extract_all(
    pages_with_bucket: DataFrame,
    dynamic_config: Optional[Dict[str, List[str]]] = None,
) -> DataFrame:
    """Fused single-pass extraction: payload → (extracted_text, spans) AND
    raw-text regex fields, one Arrow batch in, one result batch out."""
    dyn_fields = list(dynamic_config.keys()) if dynamic_config else None

    def run(batches):
        for batch in batches:
            yield _extract_batch(batch, dynamic_config)

    cols = ["url", "bucket_id", "html", "text"]
    return pages_with_bucket.select(*cols).mapInArrow(
        run, full_result_schema(dyn_fields))


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str = "run1",
    n_buckets: int = 64,
    skew_bytes: int = 1 << 20,
    skew_buckets: int = 16,
    dynamic_config: Optional[Dict[str, List[str]]] = None,
    resume: bool = True,
    max_buckets: Optional[int] = None,
) -> dict:
    """Run (or resume) the extraction job. Returns a summary dict.

    ``max_buckets`` caps how many remaining buckets are processed this
    invocation — the kill-mid-run simulation hook for resume tests.
    The bucket exchange starts at ``min(n_buckets + skew_buckets, 256)``
    partitions. AQE then coalesces or splits those partitions by their
    runtime byte size, so that is not the number of tasks.
    """
    bucketed = with_buckets(pages, n_buckets, skew_bytes, skew_buckets)

    done = resume_mod.completed_buckets(spark, out_dir, run_id) if resume else set()
    remaining_df = bucketed
    if done:
        remaining_df = bucketed.filter(~F.col("bucket_id").isin(*[int(b) for b in done]))

    target_buckets: Optional[List[int]] = None
    if max_buckets is not None:
        all_buckets = sorted(
            r.bucket_id
            for r in remaining_df.select("bucket_id").distinct().collect()
        )
        target_buckets = all_buckets[:max_buckets]
        remaining_df = remaining_df.filter(F.col("bucket_id").isin(*map(int, target_buckets)) if target_buckets else F.lit(False))

    nparts = min(n_buckets + skew_buckets, 256)
    remaining_df = remaining_df.hint("rebalance", nparts, "bucket_id")

    results = extract_all(remaining_df, dynamic_config)
    results_path = os.path.join(out_dir, "results")
    # Exactly-once resume REQUIRES dynamic partition overwrite: with Spark's
    # default static mode, mode("overwrite") truncates the whole results_path
    # and a resumed run would silently wipe every previously completed bucket
    # while its manifest still says "done". Set it here so the guarantee does
    # not depend on which session factory built `spark` (get_spark sets it,
    # a vanilla SparkSession.builder does not).
    (
        results.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket_id")
        .parquet(results_path)
    )

    # ---- per-bucket lineage/metrics from the landed output (cheap scan of
    # narrow columns; html bytes are never re-read). The schema is given so
    # that no schema-inference job runs over the footers.
    written = spark.read.schema(
        "n_bytes long, extract_ok boolean, bucket_id int"
    ).parquet(results_path)
    if done:
        written = written.filter(~F.col("bucket_id").isin(*[int(b) for b in done]))
    if target_buckets is not None:
        written = written.filter(F.col("bucket_id").isin(*map(int, target_buckets)) if target_buckets else F.lit(False))
    metrics_rows = (
        written.groupBy("bucket_id")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_bytes").alias("bytes"),
            F.sum(F.when(~F.col("extract_ok"), 1).otherwise(0)).alias("extract_fail_count"),
        )
        .collect()
    )
    manifest_rows = [
        {
            "run_id": run_id,
            "bucket_id": r.bucket_id,
            "status": "done",
            "docs": r.docs,
            "bytes": r.bytes,
            "extract_fail_count": r.extract_fail_count,
        }
        for r in metrics_rows
    ]
    resume_mod.append_manifests(spark, out_dir, manifest_rows)

    return {
        "run_id": run_id,
        "out_dir": out_dir,
        "results_path": results_path,
        "buckets_done_before": len(done),
        "buckets_processed": len(manifest_rows),
        "docs_processed": int(sum(r.docs for r in metrics_rows)),
        "extract_failures": int(sum(r.extract_fail_count for r in metrics_rows)),
    }


def read_results(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "results"))
