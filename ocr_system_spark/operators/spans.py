"""Substring/span-level duplicate detection.

Document-level dedup (exact / MinHash / SimHash — ``operators/dedup.py``)
misses the other common contamination mode in web corpora: two otherwise
distinct pages sharing a long passage (a quoted article, a licence block, a
templated disclaimer). This module composes the winnowing fingerprints
(``operators/textstats.winnow_fingerprints`` — the same k-gram/window scheme
as Schleimer et al.'s MOSS winnowing) into cross-document span matches.

Reference parity note: the reference repo (MokshaDill/OCR-System) has no
span-level dedup — this is part of the LLM-training-data-pipeline surface
the brief adds on top (see COVERAGE.md §2.11).

Scale shape (the 100 TB argument):
  * fingerprints shuffle once, keyed by ``fp`` (an int64) — never text;
  * boilerplate fingerprints (shared by more than ``max_group`` documents)
    are dropped BEFORE the self-join, exactly like the frequent-shingle
    guard in ``ngram_jaccard_pairs``: they carry no pair-level signal and
    are the quadratic-blowup hazard;
  * after the guard every ``fp`` group holds ≤ max_group rows, so the
    per-fp pair fan-out is bounded by max_group²/2 and spread across the
    fp-hash shuffle — no single hot task.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from ocr_system_spark.persist import persist

from .textstats import winnow_fingerprints

__all__ = ["duplicate_spans", "dup_span_doc_mass", "remove_duplicate_spans",
           "winnow_normalize_col"]

_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = "abcdefghijklmnopqrstuvwxyz"


def winnow_normalize_col(c: Column) -> Column:
    """JVM mirror of functions.textstats.winnow_normalize (ASCII-only
    lowercase, ASCII-whitespace collapse, space trim) — the coordinate
    system every winnow ``pos`` refers to."""
    return F.trim(F.regexp_replace(
        F.translate(c, _UPPER, _LOWER), "[\t\n\f\r ]+", " "))


def _guarded_fps(df: DataFrame, id_col: str, text_col: str, k: int,
                 window: int, max_group: int) -> DataFrame:
    """Winnowing fingerprints with the boilerplate guard applied: rows
    (id, pos, fp) restricted to fps seen in ≤ ``max_group`` distinct docs."""
    # cached: read twice (guard aggregate + the join back) — one kernel
    # run instead of two, and downstream consumers (duplicate_spans' two
    # sides, remove_duplicate_spans' reuse) hit the same cache
    fps = persist(winnow_fingerprints(df, id_col=id_col, text_col=text_col,
                                      k=k, window=window))
    ok = (fps.groupBy("fp")
          .agg(F.count_distinct(id_col).alias("n_docs"))
          .filter(F.col("n_docs") <= max_group)
          .select("fp"))
    # inner join on fp — one shuffle keyed by the int64 fingerprint; the
    # guard set is NOT broadcast (it is the large side: most fps are rare).
    return fps.join(ok, "fp")


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    max_group: int = 8,
) -> DataFrame:
    """Cross-document span matches: one row per (doc_a < doc_b) pair of
    winnow-selected k-gram positions sharing a fingerprint.

    Output: (id_a, pos_a, id_b, pos_b, fp). Positions index the NORMALIZED
    text (lowercased, whitespace collapsed — the winnowing input), and a
    match at (pos_a, pos_b) attests a shared k-char span; runs of matches
    with a common offset attest a shared passage.

    ``max_group`` is the boilerplate guard: fingerprints present in more
    than that many documents are dropped from BOTH sides before the join
    (they are template/boilerplate mass, not passage-copy evidence, and
    they are the quadratic hazard at crawl scale).
    """
    fps = _guarded_fps(df, id_col, text_col, k, window, max_group)
    a = fps.select(F.col(id_col).alias("id_a"), F.col("pos").alias("pos_a"),
                   "fp")
    b = fps.select(F.col(id_col).alias("id_b"), F.col("pos").alias("pos_b"),
                   "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "pos_a", "id_b", "pos_b", "fp")
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    max_group: int = 8,
) -> DataFrame:
    """Excise every cross-document duplicated span from each document —
    the curation transform built on ``duplicate_spans``: matched k-gram
    positions are merged into intervals [pos, pos+k) and cut out of the
    NORMALIZED text (the winnowing coordinate system; returned as-is for
    unaffected documents).

    Output: (id, clean_text, n_removed) — n_removed is the exact integer
    character count cut, so downstream thresholds stay float-free.

    ``clean_text`` is returned in the winnow-NORMAL form (single spaces,
    trimmed): excising an interval whose two surrounding spaces both
    survive would otherwise leave a double space at the junction, and the
    output would no longer be in the operator's own coordinate system —
    re-running on it would "remove" the junction space and shift every
    winnow position (found by the round-4 hypothesis fixpoint test). The
    junction collapse makes the operator idempotent: cleaned text passes
    through unchanged.

    Fully JVM-side: interval merging is the classic gaps-and-islands
    window computation (same shape as streaming/sessionize), string
    surgery is substr/concat over the island boundaries — no Python in
    the plan, and the DuckDB oracle replays every step. Scale shape: one
    window per doc over its (few) matched positions, one aggregation —
    the heavy lifting stays in ``duplicate_spans``' bounded fp join.
    """
    spans = duplicate_spans(df, id_col, text_col, k, window, max_group)
    # cached: hits feeds the island windows AND the untouched anti-join;
    # norm feeds pieces, untouched, and the final length bookkeeping
    # both (id, pos) orientations from ONE read of the span-match plan —
    # a union of two selects would execute the fp self-join twice inside
    # the cache materialization (guide §2.3; the connected_components
    # sym precedent)
    hits = persist(
        spans.select(F.explode(F.array(
            F.struct(F.col("id_a").alias("id"), F.col("pos_a").alias("pos")),
            F.struct(F.col("id_b").alias("id"), F.col("pos_b").alias("pos")),
        )).alias("e"))
        .select(F.col("e.id").alias("id"), F.col("e.pos").alias("pos"))
        .distinct()
    )
    norm = persist(df.select(F.col(id_col).alias("id"),
                             winnow_normalize_col(F.col(text_col)).alias("t")))

    wk = W.partitionBy("id").orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        wk.rowsBetween(W.unboundedPreceding, -1))
    flagged = hits.withColumn(
        "f", F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1)
              .otherwise(0))
    islands = (
        flagged.withColumn(
            "isl", F.sum("f").over(wk.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("id", "isl")
        .agg(F.min("pos").alias("s"), (F.max("pos") + k).alias("e"))
    )
    wi = W.partitionBy("id").orderBy("s")
    segs = islands.withColumn(
        "p_e", F.coalesce(F.lag("e").over(wi), F.lit(0)))
    pieces = (
        segs.join(norm, "id")
        .withColumn("piece", F.substr("t", F.col("p_e") + 1,
                                      F.col("s") - F.col("p_e")))
        .groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("s", "piece"))),
                    lambda x: x["piece"]),
                "").alias("head"),
            F.max("e").alias("last_e"),
            F.first("t").alias("t"),
        )
        .select("id",
                F.concat("head",
                         F.substr("t", F.col("last_e") + 1)).alias("clean_text"))
    )
    untouched = (
        norm.join(hits.select("id").distinct(), "id", "left_anti")
        .select("id", F.col("t").alias("clean_text"))
    )
    # junction collapse: normalized input has single spaces only, so any
    # space RUN in the reassembly is an excision seam — collapse + trim
    # restores winnow-normal form (idempotence; no-op for untouched docs)
    clean = F.trim(F.regexp_replace("clean_text", " +", " "))
    return (
        pieces.unionByName(untouched)
        .join(norm, "id")
        .select("id", clean.alias("clean_text"),
                (F.length("t") - F.length(clean)).alias("n_removed"))
    )


def dup_span_doc_mass(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    max_group: int = 8,
) -> DataFrame:
    """Per-document duplicate-span mass: of a document's winnow-selected
    fingerprints, how many are shared with at least one other document
    (within the ``max_group`` boilerplate guard)?

    Output: (id, n_fps, n_dup_fps) — integer counts so the downstream
    ratio n_dup_fps/n_fps stays a derived value and the cross-engine
    comparison is exact. The standard curation use is dropping documents
    whose dup-mass ratio exceeds a threshold (mostly-quoted pages).

    Scale: two aggregations keyed by fp and by id — no joins wider than
    the guard join, no pair materialization at all (this is the operator
    to run corpus-wide; ``duplicate_spans`` is the forensic follow-up).
    """
    fps = winnow_fingerprints(df, id_col=id_col, text_col=text_col,
                              k=k, window=window)
    # distinct (id, fp): a fp repeated inside one doc is not cross-doc
    # evidence, and distinct rows make n_docs a document count. Cached:
    # read by the per-fp count and the join back.
    dfp = persist(fps.select(F.col(id_col).alias("id"), "fp").distinct())
    counts = (dfp.groupBy("fp").agg(F.count(F.lit(1)).alias("n_docs")))
    return (
        dfp.join(counts, "fp")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.sum(
                F.when((F.col("n_docs") >= 2)
                       & (F.col("n_docs") <= max_group), 1).otherwise(0)
            ).alias("n_dup_fps"),
        )
    )
