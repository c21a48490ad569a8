"""Document chunking for LLM-context preparation.

The standard shape between curation and tokenization in a training-data
pipeline: split each document into fixed-size token windows with a stride
(overlap), so downstream packing/tokenization sees bounded inputs. The
reference repo has no analog (it is a per-document extractor); this is
part of the LLM-pipeline surface the brief adds.

Pure JVM throughout — ``split``/``sequence``/``slice``/``array_join``
expression tree, no Python, no shuffle (chunking is embarrassingly
row-local; one input row explodes into its ⌈n/stride⌉ chunks). The token
alphabet is the pinned ASCII-whitespace class shared by the simhash /
winnowing / quality kernels, so an independent SQL engine replays the
token stream exactly.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocr_system_spark.functions.tokens import TOKEN_CLASS

__all__ = ["chunk_documents"]


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """One row per (document, chunk): token window ``i`` covers tokens
    [i·stride, i·stride + chunk_tokens). The last window is short rather
    than padded; documents shorter than one window yield exactly one
    chunk; empty documents yield none. ``stride < chunk_tokens`` gives
    overlapping windows (the usual context-continuity trick).

    Output: (id, chunk_id, chunk_text, n_tokens) — chunk_text is the
    space-joined token window (whitespace is normalized by construction),
    n_tokens its exact integer length.
    """
    if not (0 < stride <= chunk_tokens):
        raise ValueError(
            f"need 0 < stride <= chunk_tokens, got {stride}/{chunk_tokens}")
    base = (
        df.select(
            F.col(id_col).alias("id"),
            F.regexp_extract_all(text_col, F.lit(TOKEN_CLASS), 0).alias("w"))
        .withColumn("n", F.size("w"))
        .filter(F.col("n") > 0)
    )
    # number of windows: 1 + ceil((n - chunk_tokens)/stride) when the doc
    # overflows one window, else 1 — integer arithmetic only (`div`), so
    # the count is exact at any document length and SQL-replayable
    n_chunks = F.expr(
        f"CASE WHEN n <= {chunk_tokens} THEN 1 "
        f"ELSE 1 + ((n - {chunk_tokens} + {stride} - 1) div {stride}) END")
    return (
        base.withColumn("chunk_id",
                        F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .withColumn("piece",
                    F.slice("w", F.col("chunk_id") * stride + 1, chunk_tokens))
        .select(
            "id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.array_join("piece", " ").alias("chunk_text"),
            F.size("piece").cast("long").alias("n_tokens"),
        )
    )


def pack_chunks(
    chunks: DataFrame,
    budget: int = 256,
    n_shards: int = 64,
    id_col: str = "id",
    chunk_id_col: str = "chunk_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Sequence PACKING — the tokenization-side twin of ``chunk_documents``:
    assign chunks to fixed-token-budget packs (training examples), the step
    every LLM data pipeline runs between curation and tokenization so short
    documents don't waste context length as padding.

    Contract (deterministic, shard-parallel, SQL-replayable):
      * chunks are sharded by ``id % n_shards`` — packing is local to a
        shard, so the only shuffle is one hash partition by shard and NO
        global ordering exists (a global greedy pack would serialize the
        corpus through one task; per-shard packing is what production
        pipelines do, trading nothing because packs are independent);
      * within a shard, chunks are laid out in (id, chunk_id) order and
        cut into packs at running-token-count boundaries:
        pack = floor(cumulative_tokens_before / budget). A chunk whose
        tokens straddle a boundary belongs to the pack its FIRST token
        falls in, so a pack may overflow the budget by at most one
        chunk's tokens — the standard "greedy fill, overflow one" packing
        (downstream truncation/padding handles the remainder; an exact
        bin-pack is NP-hard and not what pipelines run);
      * pack ids are globally unique: (shard, local_pack) → one bigint.

    Output: one row per chunk — (id, chunk_id, shard, pack_id,
    pack_offset) where pack_offset is the chunk's token start within its
    pack's running layout. Aggregate per pack downstream for pack-level
    stats (fill rate, member count).
    """
    from pyspark.sql import Window as W

    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    sharded = chunks.withColumn(
        "shard", (F.col(id_col) % n_shards).cast("long"))
    w = (W.partitionBy("shard").orderBy(id_col, chunk_id_col)
         .rowsBetween(W.unboundedPreceding, -1))
    cum_before = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    return (
        sharded.withColumn("cum_before", cum_before)
        .select(
            id_col, chunk_id_col, "shard",
            (F.col("shard") * F.lit(1 << 40)
             + F.floor(F.col("cum_before") / budget)).cast("long")
            .alias("pack_id"),
            F.pmod(F.col("cum_before"), F.lit(budget)).cast("long")
            .alias("pack_offset"),
        )
    )
