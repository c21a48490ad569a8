"""Line-level corpus curation: duplicate-line removal, per-host template
stripping, and C4-style line/document filters.

Web-curation context (public pipelines: CCNet, C4, RefinedWeb): boilerplate
on the web repeats at LINE granularity — nav menus, cookie banners,
copyright footers — across millions of pages.  The reference system
(MokshaDill/OCR-System) dedups whole files (`ocr/pdf.py:23-27` duplicate-file
removal; `ocr_utils.py` is a re-export shim); these operators extend that contract to the two intermediate
granularities a 100-TB crawl needs: corpus-wide duplicated lines and
per-host template lines.  Span-level (substring) dedup lives in
`operators/spans.py`; whole-document dedup in `operators/dedup.py`.

Scale shape (100 TB):
* The doc-frequency aggregation groups by the line string.  Spark shuffles
  on the line's hash internally, and both aggregation levels
  (per-(line,doc) then per-line) get map-side partial aggregation, so the
  shuffle carries one row per distinct (line, doc) — the same order of
  traffic as the shingle-based dedup family.
* The "hot" (duplicated / template) line set is small BY CONSTRUCTION:
  lines occurring in >= min_docs documents number at most
  total_line_occurrences / min_docs.  It is never collected: the
  removal marks lines with a join against it, which Spark plans from
  the hot set's size (a broadcast when the plan statistics or
  AQE's runtime sizes show it fits, a line-keyed shuffle join
  otherwise), then re-aggregates each document.
* Everything is a JVM expression or built-in aggregation — zero Python in
  the per-row path.

Line boundary contract: lines are split on "\n" exactly.  CRLF input
("\r\n") leaves a trailing "\r" on each line, so mixed-ending corpora
should normalize endings upstream (one regexp_replace) or identical lines
will not match across documents — same normalization discipline as the
winnowing kernel's whitespace pinning.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_system_spark.functions.tokens import TOKEN_CLASS


# A line participates in dedup / template detection only if it has visible
# content.  Blank lines are preserved verbatim by the removal transforms.
def _nonblank(line: Column) -> Column:
    return F.trim(line) != ""


# Null text is treated as empty (errors-as-data: the document survives the
# transform with an empty clean_text instead of silently disappearing from
# the output or poisoning its row with nulls).
def _text(text_col: str) -> Column:
    return F.coalesce(F.col(text_col), F.lit(""))


def line_doc_frequency(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       line_sep: str = "\n") -> DataFrame:
    """Corpus-wide document frequency per distinct non-blank line.

    Returns (line, n_docs) — the CCNet-style signal from which both the
    duplicated-line report and the removal transform derive.  Two-level
    aggregation: (line, doc) distinct first (a doc repeating its own line
    counts once), then doc-count per line; both levels combine map-side.

    ``line_sep`` picks the dedup granularity: "\n" for lines (default),
    "\n\n" for PARAGRAPHS — the granularity CCNet actually dedups at.
    The separator is matched literally.
    """
    lines = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(_text(text_col), _re.escape(line_sep)))
        .alias("line"),
    ).filter(_nonblank(F.col("line")))
    per_doc = lines.groupBy("line", "id").agg(F.count(F.lit(1)).alias("_n"))
    return per_doc.groupBy("line").agg(
        F.count(F.lit(1)).alias("n_docs"))


def hot_lines(df: DataFrame, min_docs: int, id_col: str = "doc_id",
              text_col: str = "text",
              line_sep: str = "\n") -> DataFrame:
    """Lines duplicated across >= ``min_docs`` documents (line, n_docs)."""
    return line_doc_frequency(df, id_col, text_col, line_sep).filter(
        F.col("n_docs") >= F.lit(min_docs))


def _rebuild(docs: DataFrame, hot: DataFrame,
             line_sep: str = "\n") -> DataFrame:
    """Rebuild every document of ``docs`` (its key columns plus a non-null
    ``text``) without the lines that match a row of ``hot`` on all of
    ``hot``'s columns (``line`` plus any key columns); ``hot`` holds one
    row per match key.  The remaining lines keep their position order.
    Output: (keys..., clean_text, n_lines, n_removed).

    One left mark join over the exploded lines, then one per-document
    re-aggregation, both in the JVM.  Spark picks the join from the hot
    relation's size: a broadcast while it fits the auto-broadcast
    threshold (AQE re-decides on the runtime size), a shuffle join past
    it.  Every removal transform delegates here so the rebuild semantics
    (blank preservation, ordering, empty-result '') cannot diverge."""
    keys = [c for c in docs.columns if c != "text"]
    lines = docs.select(
        *keys,
        F.posexplode(F.split(F.col("text"), _re.escape(line_sep)))
        .alias("pos", "line"),
    )
    marked = lines.join(hot.withColumn("_hot", F.lit(True)),
                        on=hot.columns, how="left")
    rebuilt = marked.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("_hot"), 1).otherwise(0)).alias("n_removed"),
        F.sort_array(
            F.collect_list(
                F.when(F.col("_hot").isNull(),
                       F.struct(F.col("pos"), F.col("line"))))
        ).alias("_kept"),
    )
    clean = F.array_join(
        F.transform(F.col("_kept"), lambda s: s["line"]), line_sep)
    return rebuilt.select(
        *keys,
        clean.alias("clean_text"),
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_removed").cast("long").alias("n_removed"),
    )


def remove_duplicate_lines(df: DataFrame, min_docs: int,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           line_sep: str = "\n") -> DataFrame:
    """Rebuild each document without the lines that occur in >=
    ``min_docs`` distinct documents (the CCNet duplicated-line pass).

    Line order is preserved; blank lines survive (they carry formatting,
    not content, and would otherwise all collide into one "hot" key).
    Output: (id, clean_text, n_lines, n_removed), one row per document.
    ``id_col`` must be a non-null, unique document key: the rebuild
    groups the document's lines back together by it.

    The hot set is bounded by total_line_occurrences/min_docs.  It is
    never collected: the lines are marked by a join against it and each
    document is re-aggregated (``_rebuild``), all in the JVM, and Spark
    chooses broadcast or shuffle for that join from the hot set's size.
    """
    hot = hot_lines(df, min_docs, id_col, text_col, line_sep).select("line")
    docs = df.select(F.col(id_col).alias("id"),
                     _text(text_col).alias("text"))
    return _rebuild(docs, hot, line_sep)


def template_line_doc_frequency(df: DataFrame, host_col: str,
                                id_col: str = "doc_id",
                                text_col: str = "text") -> DataFrame:
    """Per-host line document frequency: (host, line, n_docs, host_docs).

    The RefinedWeb/quality-pipeline signal for site templates: a line is
    template boilerplate for a host when it appears in a large fraction of
    that host's documents.  ``host_docs`` (documents per host) rides along
    so thresholding by fraction needs no extra shuffle.
    """
    base = df.select(F.col(host_col).alias("host"),
                     F.col(id_col).alias("id"),
                     _text(text_col).alias("text"))
    host_docs = base.groupBy("host").agg(
        F.count(F.lit(1)).alias("host_docs"))
    lines = base.select(
        "host", "id",
        F.explode(F.split(F.col("text"), "\n")).alias("line"),
    ).filter(_nonblank(F.col("line")))
    per_doc = lines.groupBy("host", "line", "id").agg(
        F.count(F.lit(1)).alias("_n"))
    freq = per_doc.groupBy("host", "line").agg(
        F.count(F.lit(1)).alias("n_docs"))
    # one row per host: tens of millions at crawl scale, so Spark, not a
    # hint, picks broadcast or shuffle from its size
    return freq.join(host_docs, on="host")


def strip_template_lines(df: DataFrame, host_col: str,
                         min_frac_num: int = 1, min_frac_den: int = 2,
                         min_host_docs: int = 5,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Remove per-host template lines: any line occurring in >=
    ``min_frac_num/min_frac_den`` of a host's documents, for hosts with at
    least ``min_host_docs`` documents.  The fraction is compared as
    ``n_docs * den >= host_docs * num`` — integer-exact, no float
    threshold to diverge cross-engine.

    Output: (id, host, clean_text, n_lines, n_removed).  The template set
    per host is tiny (a site has few boilerplate lines), but the TOTAL is
    hosts × that — at a 10^12-document crawl with tens of millions of
    hosts it can outgrow a broadcast.  Spark picks the (host, line)-keyed
    removal join from the template relation's size (``_rebuild``):
    broadcast while it fits, a shuffle join past it (both sides already
    keyed; no skew — a host's template rows are few).
    """
    tmpl = template_line_doc_frequency(df, host_col, id_col, text_col)
    hot = (
        tmpl.filter(
            (F.col("host_docs") >= F.lit(min_host_docs))
            & (F.col("n_docs") * F.lit(min_frac_den)
               >= F.col("host_docs") * F.lit(min_frac_num)))
        .select("host", "line"))
    docs = df.select(F.col(id_col).alias("id"),
                     F.col(host_col).alias("host"),
                     _text(text_col).alias("text"))
    return _rebuild(docs, hot)


# ---------------------------------------------------------------------------
# C4-style heuristic filters (public rules: Raffel et al. 2020, "Exploring
# the Limits of Transfer Learning...", §2.2) — line keep-predicate plus
# document-level gates, all as JVM expressions over the pinned token
# alphabet (runs of non-ASCII-whitespace, same as operators/textstats).
# ---------------------------------------------------------------------------

_TERMINALS = (".", "!", "?", '"', "'")


def c4_clean(df: DataFrame, id_col: str = "doc_id",
             text_col: str = "text", min_line_words: int = 5,
             min_kept_lines: int = 3) -> DataFrame:
    """C4 heuristic cleaning, integer/string-exact.

    Line keep rule: ends with a terminal punctuation mark
    (``. ! ? " '``), has >= ``min_line_words`` whitespace tokens, and does
    not mention "javascript" (ASCII-case-insensitive).
    Document gates: no ``{`` (code), no "lorem ipsum"
    (ASCII-case-insensitive), and >= ``min_kept_lines`` surviving lines.

    Output: (id, clean_text, n_lines, n_kept, has_brace, has_lorem,
    c4_pass).  Pure JVM expression tree — no shuffle at all: the whole
    transform is per-row (whole-stage-codegen friendly), which is exactly
    what a 100-TB first-pass filter must be.
    """
    lower = F.translate(_text(text_col),
                        "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
                        "abcdefghijklmnopqrstuvwxyz")
    lines = F.split(_text(text_col), "\n")

    def _line_ok(l: Column) -> Column:
        t = F.trim(l)
        low = F.translate(t, "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
                          "abcdefghijklmnopqrstuvwxyz")
        ends = F.lit(False)
        for term in _TERMINALS:
            ends = ends | t.endswith(term)
        nwords = F.size(F.regexp_extract_all(t, F.lit(TOKEN_CLASS), 0))
        return (ends & (nwords >= F.lit(min_line_words))
                & ~low.contains("javascript"))

    kept = F.filter(lines, _line_ok)
    has_brace = _text(text_col).contains("{")
    has_lorem = lower.contains("lorem ipsum")
    n_kept = F.size(kept)
    return df.select(
        F.col(id_col).alias("id"),
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(lines).cast("long").alias("n_lines"),
        n_kept.cast("long").alias("n_kept"),
        has_brace.alias("has_brace"),
        has_lorem.alias("has_lorem"),
        (~has_brace & ~has_lorem
         & (n_kept >= F.lit(min_kept_lines))).alias("c4_pass"),
    )


def intra_doc_dup_stats(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Gopher/MassiveText WITHIN-document repetition signal at line
    granularity: how much of a document is lines repeated inside that same
    document (rule family: "duplicate line fraction").  Complements the
    cross-document passes above — a page of repeated menus is low-quality
    even if no other document shares its lines.

    Integer-exact outputs per doc: total / distinct non-blank line counts
    and total / distinct line characters, so the two Gopher fractions
    (dup-line fraction, dup-line-char fraction) derive exactly downstream.
    Row-local JVM expression tree — no shuffle, no Python.
    """
    lines = F.filter(F.split(_text(text_col), "\n"),
                     lambda l: F.trim(l) != "")
    dist = F.array_distinct(lines)
    chars = lambda xs: F.aggregate(  # noqa: E731
        xs, F.lit(0).cast("long"), lambda acc, l: acc + F.length(l))
    return df.select(
        F.col(id_col).alias("id"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(dist).cast("long").alias("n_distinct_lines"),
        chars(lines).alias("line_chars"),
        chars(dist).alias("distinct_line_chars"),
    )


def unigram_freq_score(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Corpus-frequency document score — the integer-exact analog of
    CCNet's LM-perplexity bucketing.  Train the "unigram LM" (corpus term
    counts) and score each document by the summed corpus frequency of its
    tokens; rare-token-heavy documents score LOW relative to their length,
    exactly the tail CCNet's perplexity buckets isolate — but as exact
    integers (n_tokens, freq_sum), so an independent engine reproduces the
    score bit-for-bit (the float mean freq_sum/n_tokens is derived
    downstream).

    Scale shape: per-doc term frequencies first (map-side combine), then
    the vocabulary aggregation (one shuffle on term — vocabulary rows, not
    corpus rows), then a term-keyed join tf ⋈ vocab.  AQE picks broadcast
    when the vocabulary fits; for web-scale vocabularies the join shuffles
    on term with both sides already aggregated.
    """
    from ocr_system_spark.functions.tokens import exploded_terms
    tok = exploded_terms(df, id_col, text_col)
    tf = tok.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("corpus_tf"))
    return (
        tf.join(vocab, "term")
        .groupBy("id")
        .agg(F.sum("tf").cast("long").alias("n_tokens"),
             F.sum(F.col("tf") * F.col("corpus_tf")).cast("long")
             .alias("freq_sum"))
    )
