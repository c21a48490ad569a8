"""Cross-corpus n-gram language-model scoring — the CCNet dataflow.

CCNet's headline quality signal is the perplexity of each crawled document
under a language model trained on a CLEAN corpus (Wikipedia): the model is
trained once, then streamed over the crawl, and documents are bucketed by
perplexity.  The reference system (MokshaDill/OCR-System) has no
corpus-statistics stage at all (`ocr/pipeline.py` scores nothing); this
module supplies the train-on-A / score-B shape that public curation
pipelines (CCNet, RefinedWeb) put at the center of quality filtering,
re-expressed as pure Spark relational algebra:

* ``bigram_counts(train)`` — the "LM": add-one-smoothed bigram model as a
  (w1, w2, c2) relation plus derived context counts.  One corpus-sized
  explode with map-side combine; the shuffle is bounded by the BIGRAM
  VOCABULARY, not the corpus.
* ``bigram_lm_score(score_df, train_df)`` — per scored document:
  ``n_bigrams``, ``known_bigrams`` (bigrams seen in training), and
  ``logprob_micro`` = Σ tf · round(1e6 · ln((c2+1)/(c1+V))) — the add-one
  bigram log-likelihood with each per-bigram log term quantized to
  integer MICROS before summation.

Why micros: summing raw doubles is order-dependent (Spark partial
aggregates sum in partition order), so a float log-likelihood is not
reproducible bit-for-bit across engines or even across reruns.  Quantizing
each bigram's log term first makes the per-doc sum an exact integer
aggregation — deterministic under any partitioning and replayable verbatim
by an independent SQL engine (the same quantized-export idiom as the int8
similarity path and the hashed linear scorer).  Perplexity in nats is
``-logprob_micro / (1e6 * n_bigrams)`` downstream.

Scale shape at 100 TB: the score-side corpus aggregates to per-doc bigram
term frequencies first (map-side combine), so the model join moves
DISTINCT (doc, bigram) rows, not token instances.  The model relations are
vocabulary-sized; AQE picks broadcast when they fit, and past the
broadcast ceiling the join shuffles on (w1, w2) with both sides already
aggregated — the same documented fallback as ``linear_score``.  The token
alphabet is the pinned cross-engine stream (`functions/tokens.py`), so the
DuckDB oracle replays training AND scoring end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_system_spark.functions.tokens import exploded_terms, lower_ascii_tokens
from ocr_system_spark.persist import persist

__all__ = ["bigrams", "bigram_counts", "bigram_lm_score",
           "trigrams", "stupid_backoff_score"]

LOG_MICROS = 1_000_000

# Stupid Backoff discount (Brants et al. 2007 use 0.4 throughout); kept
# as an exact decimal literal so Spark and the SQL oracle parse the
# identical double.
BACKOFF = 0.4


def bigrams(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """(id, w1, w2) — the exploded adjacent-bigram stream over the pinned
    token alphabet.  Documents with fewer than two tokens drop out.  Pure
    JVM expressions: tokenize once, zip the array with its own tail via
    ``transform(sequence(...))`` (no corpus self-join on position)."""
    t = (df.select(F.col(id_col).alias("id"),
                   lower_ascii_tokens(F.col(text_col)).alias("toks"))
           .filter(F.size("toks") >= 2))
    return (t.select("id", F.explode(F.expr(
        "transform(sequence(1, size(toks) - 1),"
        " i -> struct(toks[i-1] AS w1, toks[i] AS w2))")).alias("bg"))
            .select("id", "bg.w1", "bg.w2"))


def bigram_counts(train: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """The trained model: (w1, w2, c2) bigram counts over the training
    corpus.  Context counts c(w1) = Σ_w2 c(w1, w2) derive from this
    relation by a vocabulary-sized re-aggregation (see
    :func:`bigram_lm_score`); storing only the bigram table keeps the
    model a single publishable artifact."""
    return (bigrams(train, id_col, text_col)
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).cast("long").alias("c2")))


def bigram_lm_score(score_df: DataFrame, train_df: DataFrame,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Score ``score_df`` under the add-one bigram LM trained on
    ``train_df``: (id, n_bigrams, known_bigrams, logprob_micro).

    p(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V) with V = distinct training
    unigrams; unseen bigrams take c2 = 0 (and unseen contexts c1 = 0, so
    the floor probability is 1/V).  Each bigram type's log term is
    quantized to integer micros BEFORE the tf-weighted per-doc sum — the
    whole result is integer-exact (see module docstring)."""
    # The model is vocabulary-sized; persist so ctx derivation and the
    # scoring join reuse one training-corpus scan.
    model = persist(bigram_counts(train_df, id_col, text_col))
    ctx = model.groupBy("w1").agg(F.sum("c2").cast("long").alias("c1"))
    # V is a 1-row bounded driver collect (the same contract as the BPE
    # argmax and IVF centroid collects): a lazy 1-row relation would need
    # a cross/constant-key join, which Catalyst plans as the
    # BroadcastNestedLoopJoin the fleet-wide plan gate bans.
    v = int(exploded_terms(train_df, id_col, text_col)
            .agg(F.countDistinct("term").cast("long").alias("v"))
            .first()["v"] or 0)
    if v == 0:
        # an empty training corpus would make ln(c1 + v) evaluate ln(0)
        # → NULL, which F.sum silently skips — partial scores instead of
        # a loud failure
        raise ValueError(
            "bigram_lm_score: training corpus has no tokens (V=0) — "
            "cannot fit an add-one bigram model")

    tf = (bigrams(score_df, id_col, text_col)
          .groupBy("id", "w1", "w2")
          .agg(F.count(F.lit(1)).cast("long").alias("tf")))

    j = (tf.join(model, ["w1", "w2"], "left")
           .join(ctx, ["w1"], "left")
           .select(
               "id", "tf",
               F.coalesce(F.col("c2"), F.lit(0)).alias("c2"),
               F.coalesce(F.col("c1"), F.lit(0)).alias("c1"),
               F.lit(v).cast("long").alias("v")))
    logp_micro = F.round(
        (F.log(F.col("c2") + 1) - F.log(F.col("c1") + F.col("v")))
        * LOG_MICROS).cast("long")
    return (j.select("id", "tf", "c2", logp_micro.alias("lp"))
             .groupBy("id")
             .agg(F.sum("tf").cast("long").alias("n_bigrams"),
                  F.sum(F.when(F.col("c2") > 0, F.col("tf"))
                         .otherwise(F.lit(0))).cast("long")
                   .alias("known_bigrams"),
                  F.sum(F.col("tf") * F.col("lp")).cast("long")
                   .alias("logprob_micro")))


def trigrams(df: DataFrame, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """(id, w1, w2, w3) — the exploded adjacent-trigram stream over the
    pinned token alphabet (documents with fewer than three tokens drop
    out).  Same zero-self-join construction as :func:`bigrams`."""
    t = (df.select(F.col(id_col).alias("id"),
                   lower_ascii_tokens(F.col(text_col)).alias("toks"))
           .filter(F.size("toks") >= 3))
    return (t.select("id", F.explode(F.expr(
        "transform(sequence(1, size(toks) - 2),"
        " i -> struct(toks[i-1] AS w1, toks[i] AS w2, toks[i+1] AS w3))"))
        .alias("tg"))
            .select("id", "tg.w1", "tg.w2", "tg.w3"))


def stupid_backoff_score(score_df: DataFrame, train_df: DataFrame,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Stupid Backoff trigram scoring (Brants et al. 2007, "Large
    Language Models in Machine Translation" — the backoff designed FOR
    MapReduce-scale corpora: no discount mass bookkeeping, just count
    ratios with a fixed 0.4 backoff factor): per scored document
    (id, n_trigrams, hit3, hit2, logscore_micro) where per trigram type

        S = c123/c12                       (trigram hit)
          = 0.4 · c23/c2                   (bigram backoff)
          = 0.4² · (c3+1)/(N+V)            (add-one unigram floor)

    and ``logscore_micro`` = Σ tf · round(1e6 · ln S) with each type's
    log term quantized BEFORE the tf-weighted sum (the module's
    integer-micros idiom — order-independent, engine-replayable).
    hit3/hit2 count trigram tokens resolved at the trigram/bigram
    levels (the coverage diagnostics the paper tracks).

    Scale shape: identical to :func:`bigram_lm_score` one order up —
    the scored corpus collapses to per-doc TRIGRAM TYPES (map-side
    combine) before any join; all five model relations (trigram counts,
    two bigram roles, unigram counts, totals) are vocabulary-sized,
    broadcast under AQE with the documented shuffle fallback.  N and V
    are one bounded 1-row driver collect (the ``v`` contract above)."""
    tri = persist(trigrams(train_df, id_col, text_col)
                  .groupBy("w1", "w2", "w3")
                  .agg(F.count(F.lit(1)).cast("long").alias("c123")))
    big = persist(bigram_counts(train_df, id_col, text_col))
    uni = persist(exploded_terms(train_df, id_col, text_col)
                  .groupBy("term")
                  .agg(F.count(F.lit(1)).cast("long").alias("c")))
    totals = uni.groupBy().agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("v")).first()
    n_tok, v = int(totals["n"] or 0), int(totals["v"] or 0)
    # Degenerate corpus (N+V=0): PINNED errors-as-data — the unigram
    # floor's ln evaluates NULL, F.sum skips it, and logscore_micro comes
    # back NULL with the integer counts still exact
    # (tests/test_round5_lm.py::test_empty_train_yields_null_scores).
    # bigram_lm_score raises instead: its score column would be PARTIALLY
    # null (known bigrams still score), which is silently wrong rather
    # than recognizably degenerate.

    tf = (trigrams(score_df, id_col, text_col)
          .groupBy("id", "w1", "w2", "w3")
          .agg(F.count(F.lit(1)).cast("long").alias("tf")))

    j = (tf
         .join(tri, ["w1", "w2", "w3"], "left")
         .join(big.select(F.col("w1"), F.col("w2"),
                          F.col("c2").alias("c12")), ["w1", "w2"], "left")
         .join(big.select(F.col("w1").alias("w2"),
                          F.col("w2").alias("w3"),
                          F.col("c2").alias("c23")), ["w2", "w3"], "left")
         .join(uni.select(F.col("term").alias("w2"),
                          F.col("c").alias("cw2")), ["w2"], "left")
         .join(uni.select(F.col("term").alias("w3"),
                          F.col("c").alias("cw3")), ["w3"], "left")
         .select("id", "tf",
                 F.coalesce(F.col("c123"), F.lit(0)).alias("c123"),
                 F.coalesce(F.col("c12"), F.lit(0)).alias("c12"),
                 F.coalesce(F.col("c23"), F.lit(0)).alias("c23"),
                 F.coalesce(F.col("cw2"), F.lit(0)).alias("cw2"),
                 F.coalesce(F.col("cw3"), F.lit(0)).alias("cw3")))

    # pinned operation order — the oracle SQL mirrors this term-for-term
    log_term = (
        F.when(F.col("c123") > 0,
               F.log(F.col("c123")) - F.log(F.col("c12")))
        .when(F.col("c23") > 0,
              F.log(F.lit(BACKOFF)) + F.log(F.col("c23"))
              - F.log(F.col("cw2")))
        .otherwise(F.log(F.lit(BACKOFF)) + F.log(F.lit(BACKOFF))
                   + F.log(F.col("cw3") + 1)
                   - F.log(F.lit(float(n_tok + v)))))
    lp = F.round(log_term * LOG_MICROS).cast("long")
    return (j.select("id", "tf", "c123", "c23", lp.alias("lp"))
             .groupBy("id")
             .agg(F.sum("tf").cast("long").alias("n_trigrams"),
                  F.sum(F.when(F.col("c123") > 0, F.col("tf"))
                         .otherwise(F.lit(0))).cast("long").alias("hit3"),
                  F.sum(F.when((F.col("c123") == 0)
                               & (F.col("c23") > 0), F.col("tf"))
                         .otherwise(F.lit(0))).cast("long").alias("hit2"),
                  F.sum(F.col("tf") * F.col("lp")).cast("long")
                   .alias("logscore_micro")))
