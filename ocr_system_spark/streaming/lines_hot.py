"""Streaming hot-line maintenance — the continuous-crawl form of the
line-level dedup family (operators/lines).

A long-running ingest maintains the corpus-wide line document-frequency
relation (line, n_docs) as a VERSIONED store (plans/index_store — same
atomic-pointer publishes the MinHash loop uses), and each arriving
micro-batch is CLEANED against the hot set the store knew before the
batch — so the stream continuously produces deduplicated documents while
its own lines feed the next version's counts.

Exactly-once under micro-batch replay (foreachBatch re-runs a batch after
a crash) is stricter here than in the MinHash loop: counts DOUBLE on a
naive replay (a re-merged batch adds its lines twice), and no re-crawl
exclusion can save an aggregate.  The loop is replay-idempotent because a
batch always merges against ITS OWN predecessor version — version
``base + batch_id`` read explicitly (``index_store.read_index_version``),
never "latest" — and publishes ``base + batch_id + 1``.  A replayed batch
therefore recomputes byte-identical counts and overwrites its own version
directory; whatever the crash interleaving, every version's content is a
pure function of (base version content, batches 1..k).

Scale: the merge is a full-outer join of two pre-aggregated count
relations on the line key (map-side combined on both sides); the cleaning
pass is ``operators/lines._rebuild``, the same JVM mark join plus
per-document re-aggregation ``remove_duplicate_lines`` runs, against the
predecessor version's hot lines read from the store — the hot set is
never collected, and Spark picks broadcast or shuffle for the join from
its size.  Rewriting
the counts relation per batch is the sandbox stand-in for an aggregating
MERGE INTO on an Iceberg table — the loop logic is unchanged.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_system_spark.operators.lines import _rebuild, _text, line_doc_frequency
from ocr_system_spark.plans import index_store
from ocr_system_spark.streaming._writer import start_checkpointed

__all__ = ["process_lines_batch", "start_hot_line_stream",
           "current_hot_lines"]


def _merge_counts(prev: Optional[DataFrame],
                  batch_counts: DataFrame) -> DataFrame:
    if prev is None:
        return batch_counts
    p = prev.select("line", F.col("n_docs").alias("_p"))
    b = batch_counts.select("line", F.col("n_docs").alias("_b"))
    return (p.join(b, on="line", how="full_outer")
            .select("line",
                    (F.coalesce(F.col("_p"), F.lit(0))
                     + F.coalesce(F.col("_b"), F.lit(0)))
                    .cast("long").alias("n_docs")))


def process_lines_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    clean_dir: str,
    base_version: int,
    min_docs: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_partitions: int = 16,
) -> int:
    """One micro-batch: clean against the predecessor version's hot set,
    write the cleaned docs, publish merged counts as the next version.
    Returns the published version.  Exposed separately so tests (and
    batch backfills) drive the exact code path the stream runs, replays
    included."""
    spark = batch_df.sparkSession
    target_version = base_version + batch_id + 1
    try:
        prev = index_store.read_index_version(
            spark, store_path, target_version - 1)
    except FileNotFoundError:
        # A missing predecessor is legitimate only for the very first
        # version of a fresh store (version 0 is never written).  Anywhere
        # else it means the batch-id sequence and the version chain have
        # come apart (e.g. a restart re-derived a different base) — treat
        # that as corruption, not as an empty predecessor: merging against
        # None here would silently discard every accumulated line count.
        if target_version - 1 != 0:
            raise FileNotFoundError(
                f"hot-line store {store_path} is missing version "
                f"{target_version - 1}, the predecessor of batch "
                f"{batch_id} (base_version={base_version}); refusing to "
                f"treat it as empty — check that base_version matches the "
                f"value this checkpoint's batch sequence started with")
        prev = None

    # hot lines as of the predecessor version (a fresh store has none);
    # never the version this batch overwrites, so a replay cleans alike
    if prev is None:
        hot = spark.createDataFrame([], "line string")
    else:
        hot = prev.filter(F.col("n_docs") >= min_docs).select("line")
    cleaned = _rebuild(batch_df.select(F.col(id_col).alias("id"),
                                       _text(text_col).alias("text")), hot)
    (cleaned.write.mode("overwrite")
     .parquet(os.path.join(clean_dir, f"batch={batch_id}")))

    merged = _merge_counts(prev, line_doc_frequency(batch_df, id_col,
                                                    text_col))
    index_store.write_index_version(
        merged, store_path, version=target_version,
        n_partitions=n_partitions, key_col="line")
    return target_version


def current_hot_lines(spark, store_path: str, min_docs: int) -> DataFrame:
    """The hot-line relation of the CURRENT published version."""
    idx, _ = index_store.read_index(spark, store_path)
    return idx.filter(F.col("n_docs") >= min_docs)


def start_hot_line_stream(
    docs_stream: DataFrame,
    store_path: str,
    clean_dir: str,
    checkpoint_dir: str,
    min_docs: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_partitions: int = 16,
    available_now: bool = True,
    base_version: Optional[int] = None,
):
    """docs stream → foreachBatch hot-line maintenance + cleaning.
    ``base_version`` is pinned in ``checkpoint_dir`` at first start and
    reloaded on restarts (``index_store.load_or_pin_base_version``)."""
    base_version = index_store.load_or_pin_base_version(
        checkpoint_dir, store_path, base_version)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        process_lines_batch(
            batch_df, batch_id, store_path, clean_dir, base_version,
            min_docs, id_col=id_col, text_col=text_col,
            n_partitions=n_partitions)

    return start_checkpointed(docs_stream.writeStream.foreachBatch(process),
                              checkpoint_dir, available_now)
