"""BM25 full-text retrieval — scan-and-score over a bounded query workload.

Training-data pipelines retrieve as well as filter: targeted corpus
construction ("find the documents most relevant to these seed queries"),
eval-set mining, and retrieval-augmented dataset building all reduce to
scoring a bounded query set against the whole corpus and keeping the
top-k per query.  The reference system (MokshaDill/OCR-System) extracts
fields per file and never ranks anything (`ocr/pipeline.py`); this
module adds the Okapi BM25 ranking tier over the pinned cross-engine
token stream (`functions/tokens.py`).

The query-term list is BOUNDED by contract (a query workload, not a
corpus), so per-doc term frequencies for exactly those terms are
computed INSIDE one JVM array expression
(``filter(transform(terms, ...), tf > 0)``) during a single corpus
scan.  The corpus is never exploded to an (id, term) relation and NEVER
shuffles: the only exchanges are over the matched rows (Σ_t df(t) —
query-workload-sized), the qterm-sized df aggregate, and the per-query
top-k.  A slim (id, dl, matches) projection is cached for the two
passes (stats + scoring); at 10^12 docs that cache is one long + a few
structs per doc.

Determinism contract: per (query-term, doc) contribution is computed in
IEEE doubles with a PINNED operation order (the oracle SQL mirrors the
expression token-for-token) and quantized to integer micros BEFORE the
per-doc sum — the same sum-of-rounded-terms idiom as `operators/lm.py`,
making the final score an exact integer aggregation under any
partitioning.  Ties break by ascending doc id.

    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))        [Lucene form]
    tfn(t, d)   = tf·(k1+1) / (tf + k1·(1 − b + b·(dl·N / L)))
    score(q, d) = Σ_t round(1e6 · idf·tfn)

with N = corpus docs with ≥1 token, L = total token count (so ``dl·N/L``
is the dl/avgdl ratio without a separately rounded avgdl), k1 = 1.2,
b = 0.75.  N and L are one bounded 1-row driver collect (the `lm.py` V
contract), as is the distinct query-term list.

Per-query top-k is a keyed window that Spark executes as map-side
WindowGroupLimit (partial top-k before the shuffle, the
`dedup_keep_best` precedent) — k rows per query per partition move,
not N.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ocr_system_spark.functions.tokens import lower_ascii_tokens
from ocr_system_spark.persist import persist

__all__ = ["bm25_topk"]

SCORE_MICROS = 1_000_000
K1 = 1.2
B = 0.75


def _contrib_micro(n_docs: int, total_len: int) -> Column:
    """round(1e6 · idf · tfn) over (tf, df, dl) columns — the pinned
    IEEE operation order the oracle SQL mirrors token-for-token."""
    idf = F.log(
        1.0 + (F.lit(float(n_docs)) - F.col("df") + 0.5)
        / (F.col("df") + 0.5))
    tfn = (F.col("tf") * (K1 + 1.0)
           / (F.col("tf")
              + K1 * (1.0 - B
                      + B * (F.col("dl").cast("double") * n_docs
                             / total_len))))
    return F.round(idf * tfn * SCORE_MICROS).cast("long")


def _empty_result(queries: DataFrame, corpus: DataFrame,
                  id_col: str) -> DataFrame:
    # derive the id column's type from the corpus so the empty-corpus
    # early return has the SAME schema as the normal path (a hardcoded
    # long would break downstream unionByName/writes on string doc ids)
    id_type = corpus.schema[id_col].dataType
    return (queries.select(F.col("query_id"),
                           F.lit(None).cast(id_type).alias("id"),
                           F.lit(0).cast("long").alias("n_terms"),
                           F.lit(0).cast("long").alias("score_micro"),
                           F.lit(0).cast("int").alias("rn"))
            .limit(0))


def bm25_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Top-``k`` documents per query by BM25: (query_id, id, n_terms,
    score_micro, rn) with rn the 1-based rank (score desc, id asc) and
    ``n_terms`` the count of distinct query terms the doc matched.

    ``queries`` is a (query_id, term) relation — one row per DISTINCT
    query term (duplicate terms in a query are a weighting decision this
    operator does not take; ``.distinct()`` upstream if your workload
    repeats terms).  Terms are matched against the pinned token alphabet,
    so cased/raw query strings should pass through
    ``lower_ascii_tokens`` first.  See the module docstring for the
    single-scan plan."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    q = queries.select("query_id", "term")
    # bounded-workload contract: the distinct term list is a 1-row-
    # per-term collect (the lm.py V idiom) and rides into one
    # JVM array expression — the corpus is scanned once, never
    # exploded corpus-wide, never shuffled
    terms = sorted({r["term"] for r in q.select("term").distinct()
                    .collect() if r["term"] is not None})
    if not terms:
        return _empty_result(queries, corpus, id_col)
    qarr = F.array(*[F.lit(t) for t in terms])
    toks = lower_ascii_tokens(F.col(text_col))
    hits = F.filter(
        F.transform(
            qarr,
            lambda t: F.struct(
                t.alias("term"),
                F.size(F.filter(F.col("_toks"), lambda x: x == t))
                .cast("long").alias("tf"))),
        lambda s: s["tf"] > 0)
    slim = persist(corpus
                   .select(F.col(id_col).alias("id"), toks.alias("_toks"))
                   .select("id", F.size("_toks").cast("long").alias("dl"),
                           hits.alias("_hits"))
                   .filter(F.col("dl") > 0))
    stats = slim.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dl").cast("long").alias("l")).first()
    n_docs, total_len = int(stats["n"] or 0), int(stats["l"] or 0)
    if n_docs == 0:
        return _empty_result(queries, corpus, id_col)
    m = (slim.select("id", "dl", F.explode("_hits").alias("h"))
         .select("id", "dl", F.col("h.term").alias("term"),
                 F.col("h.tf").alias("tf")))
    df_rel = m.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    # bound: both sides hold only the query terms (df_rel one row each,
    # q one row per query term) — the bounded-workload contract above
    matched = (m.join(F.broadcast(df_rel), "term")
               .join(F.broadcast(q), "term"))

    scored = (matched
              .select("query_id", "id",
                      _contrib_micro(n_docs, total_len).alias("c"))
              .groupBy("query_id", "id")
              .agg(F.count(F.lit(1)).cast("long").alias("n_terms"),
                   F.sum("c").cast("long").alias("score_micro")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("id").asc())
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k))
