"""Continuous-ingest variant of the extraction pipeline.

``readStream`` over an arriving-pages directory → the SAME fused
``extract_all`` stage (mapInPandas is streaming-compatible: it is a
stateless projection) → ``writeStream`` parquet sink with checkpointing.
Spark's checkpoint/WAL gives exactly-once file-sink semantics per
micro-batch — the streaming counterpart of the batch tier's per-bucket
manifests (plans/resume.py). A watermarked per-window metrics aggregation
mirrors the batch metrics table.

The reference's analog is its "Real-time CSV updates" loop (rewrite the
whole CSV after every document, /root/reference/main_tk - AI.py:307-312);
here arrival-batch outputs are append-only and idempotent.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_system_spark.plans.pipeline import extract_all, with_buckets
from ocr_system_spark.streaming._writer import start_checkpointed

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])


def read_page_stream(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: Optional[int] = None,
                     ignore_corrupt: bool = True) -> DataFrame:
    reader = (
        spark.readStream.schema(PAGES_SCHEMA)
        .format("parquet")
        .option("path", input_dir)
        # a web-scale crawl feed WILL contain truncated/corrupt files; a
        # poisoned file must not kill the long-running query (verified: it
        # does without this)
        .option("ignoreCorruptFiles", "true" if ignore_corrupt else "false")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load()


def start_extraction_stream(
    pages_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 32,
    available_now: bool = True,
):
    """pages stream → fused extraction → parquet sink (exactly-once via the
    streaming checkpoint). ``available_now`` drains what exists and stops —
    the batch-refresh mode; pass False for a long-running tail."""
    results = extract_all(with_buckets(pages_stream, n_buckets=n_buckets))
    writer = (results.writeStream.format("parquet")
              .option("path", out_dir).outputMode("append"))
    return start_checkpointed(writer, checkpoint_dir, available_now)


def start_metrics_stream(
    pages_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    available_now: bool = True,
):
    """Per-crawl-window ingest metrics with late-data handling: docs and
    bytes per (warc_ts window, lang), watermarked so state is bounded."""
    agg = (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.length("html")).alias("bytes"),
        )
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"), "lang", "docs", "bytes")
    )
    writer = (agg.writeStream.format("parquet")
              .option("path", out_dir).outputMode("append"))
    return start_checkpointed(writer, checkpoint_dir, available_now)


def start_dedup_stream(
    pages_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    available_now: bool = True,
):
    """Streaming exact dedup: first arrival of each content hash wins,
    across micro-batches, with BOUNDED state — the streaming counterpart of
    operators/dedup.exact_dedup.

    ``dropDuplicatesWithinWatermark`` keeps a hash in the state store only
    until the event-time watermark passes it, so a crawl stream can run
    forever: a duplicate arriving within the watermark of its original is
    dropped; one arriving later than the watermark is treated as new (the
    documented, bounded-memory trade every streaming dedup makes — global
    exactness belongs to the batch tier's exact_dedup over the landed
    table)."""
    deduped = (
        pages_stream
        .withColumn("text_hash", F.md5(F.coalesce(F.col("text"), F.lit(""))))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )
    writer = (deduped.writeStream.format("parquet")
              .option("path", out_dir).outputMode("append"))
    return start_checkpointed(writer, checkpoint_dir, available_now)
