"""Spark operators over the text-analysis kernels (Arrow-batched)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_system_spark.functions import textstats as K
from ocr_system_spark.functions.tokens import TOKEN_CLASS

from ._rowmap import map_rows

_TOKEN_RE = re.compile(TOKEN_CLASS)


def with_langid(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    def kernel(batch):
        return None, [K.langid_batch(batch.column(text_col))]

    return map_rows(df, kernel, [T.StructField(out_col, T.StringType())])


QUALITY_SCHEMA = T.StructType([
    T.StructField("n_chars", T.LongType(), False),
    T.StructField("n_words", T.LongType(), False),
    T.StructField("n_stopwords", T.LongType(), False),
    T.StructField("punct_ratio", T.DoubleType(), False),
    T.StructField("upper_ratio", T.DoubleType(), False),
])


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    def kernel(batch):
        return None, K.quality_features_batch(batch.column(text_col)).values()

    return map_rows(df, kernel, QUALITY_SCHEMA)


TOKENS_SCHEMA = T.StructType([
    T.StructField("ws_tokens", T.LongType(), False),
    T.StructField("bpeish_tokens", T.LongType(), False),
])


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    def kernel(batch):
        return None, K.token_count_batch(batch.column(text_col)).values()

    return map_rows(df, kernel, TOKENS_SCHEMA)


REPETITION_SCHEMA = T.StructType([
    T.StructField("total_bigrams", T.LongType(), False),
    T.StructField("distinct_bigrams", T.LongType(), False),
])


def with_repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/MassiveText-style repetition signal: duplicate word-bigram
    mass per document. Emitted as INTEGER (total, distinct) counts — the
    duplicate fraction (total-distinct)/total is derived downstream, so the
    cross-engine comparison stays exact."""
    def kernel(batch):
        tot, dis = [], []
        for t in batch.column(text_col).to_pylist():
            w = _TOKEN_RE.findall(t or "")
            n = max(len(w) - 1, 0)
            tot.append(n)
            dis.append(len({(w[i], w[i + 1]) for i in range(n)}) if n else 0)
        return None, [tot, dis]

    return map_rows(df, kernel, REPETITION_SCHEMA)


# the published MassiveText "must contain ≥2 of" stop list (Gopher paper,
# rule 7) — a quality heuristic, not a language model
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")

GOPHER_FIELDS = ("n_words", "n_word_chars", "n_stop_hits")


def with_gopher_quality(df: DataFrame, text_col: str = "text",
                        min_words: int = 50, max_words: int = 100_000
                        ) -> DataFrame:
    """Gopher/MassiveText document-quality gates, integer-stable:
    word-count bounds, mean-word-length bounds (3 ≤ mean ≤ 10, compared as
    3·n ≤ chars ≤ 10·n — no floats), and the ≥2-stopword rule. Emits the
    raw counts plus the combined ``gopher_pass`` verdict."""
    def kernel(batch):
        nw, nc, ns = [], [], []
        for t in batch.column(text_col).to_pylist():
            w = _TOKEN_RE.findall(t or "")
            nw.append(len(w))
            nc.append(sum(len(x) for x in w))
            ns.append(sum(1 for x in w if x.lower() in GOPHER_STOPS))
        return None, [nw, nc, ns]

    counts = map_rows(df, kernel, [T.StructField(name, T.LongType())
                                   for name in GOPHER_FIELDS])
    return counts.withColumn(
        "gopher_pass",
        (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
        & (F.col("n_word_chars") >= 3 * F.col("n_words"))
        & (F.col("n_word_chars") <= 10 * F.col("n_words"))
        & (F.col("n_stop_hits") >= 2),
    )


FP_STRUCT = T.ArrayType(T.StructType([
    T.StructField("pos", T.LongType(), False),
    T.StructField("fp", T.LongType(), False),
]))


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 8,
                        window: int = 4) -> DataFrame:
    """Winnowing fingerprints as SCALAR rows (id, pos, fp) — one row per
    selected k-gram, exploded in the kernel. Scalar output (not
    array<long>) so downstream joins, aggregations, and cross-engine
    comparison all work on plain columns."""
    def kernel(batch):
        rows, pos, fp = [], [], []
        fps = K.winnow_fingerprint_batch(batch.column(text_col), k, window)
        for i, xs in enumerate(fps):
            for p, v in xs:
                rows.append(i)
                pos.append(p)
                fp.append(v)
        return rows, [pos, fp]

    return map_rows(df.select(id_col, text_col), kernel,
                    FP_STRUCT.elementType, drop=text_col)


def top_terms_by_tf(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 5) -> DataFrame:
    """Per-document top-``k`` terms, integer-ranked: term frequency DESC,
    corpus document-frequency ASC (rarer-is-more-salient — the tf-idf
    ordering without the float idf), term ASC. Every ranking key is an
    exact integer/string, so an independent SQL engine reproduces the
    ranks bit-for-bit — the float-free analog of tf-idf term extraction.

    Terms are ASCII-lowercased (translate, the cross-engine-safe subset)
    tokens of the pinned alphabet. Scale shape: two hash aggregations
    (term counts map-side-combine before shuffling) + a broadcast-or-
    shuffle join on term + one per-doc window over ≤ distinct-terms rows.
    """
    from ocr_system_spark.functions.tokens import exploded_terms
    tok = exploded_terms(df, id_col, text_col)
    tf = tok.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (tf.groupBy("term")
             .agg(F.count(F.lit(1)).alias("doc_freq")))
    from pyspark.sql import Window as W
    w = W.partitionBy("id").orderBy(
        F.col("tf").desc(), F.col("doc_freq").asc(), F.col("term").asc())
    return (
        tf.join(dfreq, "term")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id", "term", "tf", "doc_freq",
                F.col("rank").cast("int").alias("rank"))
    )
