"""Streaming incremental MinHash dedup — the continuous-crawl form of the
round-4 index-maintenance loop (operators/dedup.update_minhash_index +
plans/index_store).

Every micro-batch of arriving documents is deduped against the CURRENT
published index version (band-bucket join + exact verify, within-batch leg
on), its duplicate pairs are logged, and its survivors are published as
the NEXT index version — so the long-running stream maintains exactly the
state relation the batch tier consumes, with the same atomic-pointer
publishes.

Exactly-once under micro-batch replay (foreachBatch re-runs a batch after
a crash) comes from three idempotence layers, none needing a transaction:

* the TARGET VERSION is a pure function of the micro-batch id
  (base_version + batch_id + 1), so a replayed batch overwrites its own
  version directory and re-swaps the pointer — never minting a duplicate
  version;
* if the crash happened AFTER the publish, the replay reads an index that
  already contains the batch's survivors — and the loop is self-stable
  against that: re-crawled ids are excluded from pairs (a doc is not its
  own duplicate), and ``update_minhash_index`` drops batch ids already
  present in the index, so the republished version has identical content;
* the pairs log is written per-batch into its own subdirectory with
  overwrite mode — a replay replaces its own log rather than appending a
  second copy.

Scale: per-batch work is bounded by the batch (band join keyed by
(band, bhash) with index-side hot-bucket salting; verify and survivor
anti-joins keyed by id). The index re-publish rewrites the index relation
each batch — at true corpus scale swap `write_index_version` for an
append-only layout (Iceberg append / bucketed-partition add) behind the
same pointer contract; the loop logic above is unchanged.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame

from ocr_system_spark.operators.dedup import (incremental_minhash_pairs,
                                              minhash_signatures,
                                              update_minhash_index)
from ocr_system_spark.persist import persist, scoped_persist
from ocr_system_spark.plans import index_store

__all__ = ["process_dedup_batch", "start_incremental_dedup_stream"]


def process_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    pairs_dir: str,
    base_version: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard_pct: int = 70,
    n_partitions: int = 64,
) -> int:
    """One micro-batch through the loop; returns the published version.
    Exposed separately so tests (and batch backfills) can drive the exact
    code path the stream runs, including replays.  Every relation cached
    for the batch is released before it returns."""
    spark = batch_df.sparkSession
    target_version = base_version + batch_id + 1
    with scoped_persist():
        b_sig = persist(minhash_signatures(batch_df, id_col, text_col))
        try:
            idx, _ = index_store.read_index(spark, store_path)
        except FileNotFoundError:
            # bootstrap: first batch dedups only against itself
            idx = b_sig.limit(0)
        pairs = persist(incremental_minhash_pairs(
            b_sig, idx, min_jaccard_pct=min_jaccard_pct,
            include_batch_pairs=True))
        (pairs.write.mode("overwrite")
         .parquet(os.path.join(pairs_dir, f"batch={batch_id}")))
        nxt = update_minhash_index(idx, b_sig, pairs)
        index_store.write_index_version(
            nxt, store_path, version=target_version,
            n_partitions=n_partitions)
    return target_version


def start_incremental_dedup_stream(
    docs_stream: DataFrame,
    store_path: str,
    pairs_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard_pct: int = 70,
    n_partitions: int = 64,
    available_now: bool = True,
    base_version: Optional[int] = None,
):
    """docs stream → foreachBatch incremental dedup against the versioned
    index store. ``base_version`` is pinned in ``checkpoint_dir`` at
    first start and reloaded on restarts
    (``index_store.load_or_pin_base_version``)."""
    base_version = index_store.load_or_pin_base_version(
        checkpoint_dir, store_path, base_version)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        process_dedup_batch(
            batch_df, batch_id, store_path, pairs_dir, base_version,
            id_col=id_col, text_col=text_col,
            min_jaccard_pct=min_jaccard_pct, n_partitions=n_partitions)

    writer = (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
