"""Spark operators over the text-analysis kernels (Arrow-batched)."""

from __future__ import annotations

import re

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_system_spark.functions import textstats as K

# Tokens are runs of non-ASCII-whitespace — the SAME pinned alphabet as the
# SimHash kernel (operators/dedup._SIMHASH_TOKEN_RE) and the winnowing
# normalizer, so Python, Spark SQL, and RE2-based engines all see the
# identical token stream. Python str.split() would additionally split on
# NBSP / U+2028 / \x1c-\x1f, silently breaking cross-engine parity on
# documents containing non-ASCII whitespace.
_TOKEN_RE = re.compile(r"[^\t\n\f\r ]+")


def with_langid(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    @F.pandas_udf(T.StringType())
    def udf(texts: pd.Series) -> pd.Series:
        return K.langid_batch(texts)

    return df.withColumn(out_col, udf(F.col(text_col)))


QUALITY_SCHEMA = T.StructType([
    T.StructField("n_chars", T.LongType(), False),
    T.StructField("n_words", T.LongType(), False),
    T.StructField("n_stopwords", T.LongType(), False),
    T.StructField("punct_ratio", T.DoubleType(), False),
    T.StructField("upper_ratio", T.DoubleType(), False),
])


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    @F.pandas_udf(QUALITY_SCHEMA)
    def udf(texts: pd.Series) -> pd.DataFrame:
        return K.quality_features_batch(texts)

    return df.withColumn("q", udf(F.col(text_col))).select("*", "q.*").drop("q")


TOKENS_SCHEMA = T.StructType([
    T.StructField("ws_tokens", T.LongType(), False),
    T.StructField("bpeish_tokens", T.LongType(), False),
])


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    @F.pandas_udf(TOKENS_SCHEMA)
    def udf(texts: pd.Series) -> pd.DataFrame:
        return K.token_count_batch(texts)

    return df.withColumn("t", udf(F.col(text_col))).select("*", "t.*").drop("t")


REPETITION_SCHEMA = T.StructType([
    T.StructField("total_bigrams", T.LongType(), False),
    T.StructField("distinct_bigrams", T.LongType(), False),
])


def with_repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/MassiveText-style repetition signal: duplicate word-bigram
    mass per document. Emitted as INTEGER (total, distinct) counts — the
    duplicate fraction (total-distinct)/total is derived downstream, so the
    cross-engine comparison stays exact."""
    @F.pandas_udf(REPETITION_SCHEMA)
    def udf(texts: pd.Series) -> pd.DataFrame:
        tot, dis = [], []
        for t in texts.tolist():
            w = _TOKEN_RE.findall(t or "")
            n = max(len(w) - 1, 0)
            tot.append(n)
            dis.append(len({(w[i], w[i + 1]) for i in range(n)}) if n else 0)
        return pd.DataFrame({"total_bigrams": tot, "distinct_bigrams": dis},
                            index=texts.index)

    return df.withColumn("r", udf(F.col(text_col))).select("*", "r.*").drop("r")


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
    raw counts plus the combined ``gopher_pass`` verdict.

    The counts are appended by a pass-through ``mapInArrow``, a plan
    barrier: a filter on ``gopher_pass`` cannot be pushed below it, so the
    kernel runs once per row whatever filter follows (over a projected
    pandas UDF such a filter evaluates the UDF a second time)."""
    pos = df.columns.index(text_col)
    out_t = T.StructType(df.schema.fields + [
        T.StructField(name, T.LongType()) for name in GOPHER_FIELDS])

    def kernel(batches):
        for batch in batches:
            nw, nc, ns = [], [], []
            for t in batch.column(pos).to_pylist():
                w = _TOKEN_RE.findall(t or "")
                nw.append(len(w))
                nc.append(sum(len(x) for x in w))
                ns.append(sum(1 for x in w if x.lower() in GOPHER_STOPS))
            yield pa.RecordBatch.from_arrays(
                batch.columns + [pa.array(c, type=pa.int64())
                                 for c in (nw, nc, ns)],
                names=out_t.names)

    return df.mapInArrow(kernel, out_t).withColumn(
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
    selected k-gram. Scalar output (not array<long>) so downstream joins,
    aggregations, and cross-engine comparison all work on plain columns."""
    @F.pandas_udf(FP_STRUCT)
    def udf(texts: pd.Series) -> pd.Series:
        return K.winnow_fingerprint_batch(texts, k, window).map(
            lambda xs: [{"pos": p, "fp": v} for p, v in xs]
        )

    return (
        df.select(F.col(id_col), F.explode(udf(F.col(text_col))).alias("s"))
        .select(id_col, F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))
    )


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
