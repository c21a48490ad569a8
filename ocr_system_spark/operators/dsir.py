"""DSIR importance weighting: hashed n-gram target-vs-raw log-ratios.

Data Selection with Importance Resampling (Xie et al. 2023,
arXiv:2302.03169) selects pretraining data by how much more likely each
document is under a TARGET distribution (a clean corpus) than under the
RAW distribution (the crawl being filtered).  Both distributions are
bag-of-hashed-n-gram models — unigrams and adjacent bigrams hashed into a
fixed bucket space — so fitting is counting and scoring is a dot product:
the entire method is relational algebra, which is why it runs at crawl
scale.  The reference system (MokshaDill/OCR-System) has no corpus-level
scoring at all (`ocr/pipeline.py` extracts fields per file and stops);
this module supplies the selection stage public curation pipelines put
between dedup and training-set assembly.

Dataflow (all counts exact, all log terms integer-quantized):

* ``hashed_features(df, n_buckets)`` — (id, bucket, tf): each unigram and
  each adjacent bigram (``w1 || ' ' || w2`` — unambiguous because tokens
  of the pinned alphabet cannot contain whitespace) hashed to a bucket by
  the md5-hex-digit decode the stub quality weight already uses
  (`quality_model.stub_weight_expr`), aggregated per document.  The
  per-doc relation is bounded by min(doc n-grams, n_buckets).
* ``bucket_counts(features)`` — the fitted model: (bucket, c) plus its
  grand total; B rows, always broadcastable.
* ``dsir_logweight(score_df, target_df, raw_df=None, n_buckets=1024)`` —
  per scored document: ``log w(x) = Σ_b tf_b · lr_b`` with
  ``lr_b = round(1e6 · (ln((c_target_b + 1)/(N_target + B)) −
  ln((c_raw_b + 1)/(N_raw + B))))`` — add-one-smoothed bucket
  log-likelihood ratio, quantized to integer MICROS per bucket before
  the tf-weighted sum, so the document weight is an exact integer:
  order-independent under any partitioning and replayable verbatim by an
  independent SQL engine (the same micros idiom as the bigram LM,
  `operators/lm.py`).  ``raw_df`` defaults to ``score_df`` itself — the
  paper's setting, where the raw distribution IS the corpus being
  scored.

Selection downstream: ``dsir_resample`` implements the paper's
Gumbel-top-k importance resampling (deterministic md5-derived Gumbel
draws in integer micros, global top-k — never a full sort); plain top-k
by (logweight_micro, id) or the tier-binning machinery
(`quality_model.quality_tiers_bucketed`) are the non-sampled
alternatives.

Scale shape at 100 TB: corpora collapse to (id, bucket, tf) — at most
n_buckets rows per doc — before any join; both model relations are
exactly B ≤ ~10^4 rows and the totals are 1-row, so every join below is a
broadcast under AQE regardless of corpus size, and the only corpus-sized
shuffles are the two per-doc aggregations (map-side combined).  With 4
md5 hex digits the hash domain is 16^4 = 65536; keep ``n_buckets`` a
divisor (default 1024) for an unbiased bucket map.  A production 10k+
bucket space wants 8 digits — same decode, longer chain.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_system_spark.functions.tokens import lower_ascii_tokens
from ocr_system_spark.persist import persist

from .sampling import hex_prefix_value

__all__ = ["hashed_features", "bucket_counts", "dsir_logweight",
           "dsir_resample", "feature_bucket_expr", "gumbel_micro_expr"]

LOG_MICROS = 1_000_000
_HASH_DOMAIN = 16 ** 4


def feature_bucket_expr(feat: Column, n_buckets: int) -> Column:
    """Bucket id in [0, n_buckets) for a feature string: the first four
    hex digits of md5(feat) (``sampling.hex_prefix_value``), mod
    n_buckets."""
    val = hex_prefix_value(F.md5(F.encode(feat, "UTF-8")), 4)
    return (val % n_buckets).cast("long")


def hashed_features(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    n_buckets: int = 1024) -> DataFrame:
    """(id, bucket, tf) — per-document hashed unigram+bigram counts.
    Tokenizes once, derives both n-gram streams from the same array
    (no second pass over text), explodes their concatenation, buckets,
    and aggregates map-side."""
    if not 0 < n_buckets <= _HASH_DOMAIN:
        raise ValueError(f"n_buckets must be in (0, {_HASH_DOMAIN}], "
                         f"got {n_buckets}")
    t = df.select(F.col(id_col).alias("id"),
                  lower_ascii_tokens(F.col(text_col)).alias("toks"))
    # sequence(1, 0) counts DOWN in Spark, so the bigram branch must be
    # gated for single-token docs rather than relying on an empty range.
    feats = F.expr(
        "concat(toks, if(size(toks) >= 2,"
        " transform(sequence(1, size(toks) - 1),"
        " i -> concat(toks[i-1], ' ', toks[i])),"
        " cast(array() as array<string>)))")
    return (t.filter(F.size("toks") >= 1)
             .select("id", F.explode(feats).alias("feat"))
             .select("id", feature_bucket_expr(F.col("feat"), n_buckets)
                     .alias("bucket"))
             .groupBy("id", "bucket")
             .agg(F.count(F.lit(1)).cast("long").alias("tf")))


def bucket_counts(features: DataFrame) -> DataFrame:
    """The fitted hashed-n-gram model over a corpus' feature stream:
    (bucket, c) — at most n_buckets rows."""
    return features.groupBy("bucket").agg(F.sum("tf").cast("long")
                                          .alias("c"))


def dsir_logweight(score_df: DataFrame, target_df: DataFrame,
                   raw_df: DataFrame | None = None,
                   id_col: str = "doc_id", text_col: str = "text",
                   n_buckets: int = 1024) -> DataFrame:
    """Per scored document: (id, n_feats, logweight_micro) — the DSIR
    importance log-weight under target-vs-raw hashed-n-gram models
    (integer micros; see module docstring).  ``n_feats`` is the doc's
    total n-gram count (Σ tf).  Docs with no tokens drop out."""
    tgt_feats = hashed_features(target_df, id_col, text_col, n_buckets)
    raw_feats = (hashed_features(raw_df, id_col, text_col, n_buckets)
                 if raw_df is not None else
                 hashed_features(score_df, id_col, text_col, n_buckets))
    # The fitted models are ≤ n_buckets rows; persist them so the total
    # collects below don't force a second corpus scan when the join
    # re-reads them.
    tgt = persist(bucket_counts(tgt_feats))
    raw = persist(bucket_counts(raw_feats))
    # Grand totals are 1-row bounded driver collects (the BPE-argmax /
    # IVF-centroid contract): lazy 1-row relations would need cross /
    # constant-key joins, which Catalyst plans as the
    # BroadcastNestedLoopJoin the fleet-wide plan gate bans.  Each is one
    # B-row aggregation job.
    np_ = int(tgt.agg(F.sum("c").alias("n")).first()["n"] or 0)
    nq_ = int(raw.agg(F.sum("c").alias("n")).first()["n"] or 0)

    doc = hashed_features(score_df, id_col, text_col, n_buckets)
    # bound: each model has ≤ n_buckets rows
    j = (doc.join(F.broadcast(tgt.withColumnRenamed("c", "cp")),
                  ["bucket"], "left")
            .join(F.broadcast(raw.withColumnRenamed("c", "cq")),
                  ["bucket"], "left")
            .select("id", "tf",
                    F.coalesce(F.col("cp"), F.lit(0)).alias("cp"),
                    F.coalesce(F.col("cq"), F.lit(0)).alias("cq"),
                    F.lit(np_).cast("long").alias("np"),
                    F.lit(nq_).cast("long").alias("nq")))
    b = F.lit(n_buckets)
    lr_micro = F.round(
        ((F.log(F.col("cp") + 1) - F.log(F.col("np") + b))
         - (F.log(F.col("cq") + 1) - F.log(F.col("nq") + b)))
        * LOG_MICROS).cast("long")
    return (j.select("id", "tf", lr_micro.alias("lr"))
             .groupBy("id")
             .agg(F.sum("tf").cast("long").alias("n_feats"),
                  F.sum(F.col("tf") * F.col("lr")).cast("long")
                   .alias("logweight_micro")))


def gumbel_micro_expr(id_col: Column) -> Column:
    """Deterministic per-document Gumbel(0, 1) draw in integer micros:
    ``round(1e6 · -ln(-ln(u)))`` with ``u = (h + 1) / 65537`` and ``h``
    the first four hex digits of ``md5('gumbel:' || id)`` — u lies
    strictly inside (0, 1), the draw is reproducible forever per id, and
    the salt decorrelates it from the split lottery
    (`sampling.with_split`), which hashes the bare id."""
    val = hex_prefix_value(F.md5(F.encode(
        F.concat(F.lit("gumbel:"), id_col.cast("string")), "UTF-8")), 4)
    u = (val + 1) / F.lit(float(_HASH_DOMAIN + 1))
    return F.round(-F.log(-F.log(u)) * LOG_MICROS).cast("long")


def dsir_resample(weights: DataFrame, k: int,
                  id_col: str = "id",
                  weight_col: str = "logweight_micro") -> DataFrame:
    """The paper's Gumbel-top-k importance RESAMPLING over the output of
    :func:`dsir_logweight`: add a deterministic Gumbel draw to each log
    weight and keep the k largest keys — equivalent to sampling k docs
    without replacement with probability ∝ exp(weight).  Returns the
    input columns plus (gumbel_micro, key_micro), ordered by
    (key desc, id asc) — ties broken by id, so selection is exact across
    engines and reruns.

    Scale shape: a global top-k (TakeOrderedAndProject — per-partition
    partial top-k, k rows to the driver-side merge), never a full sort;
    k is the training-budget-sized constant of the paper's setting."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    g = gumbel_micro_expr(F.col(id_col))
    return (weights
            .withColumn("gumbel_micro", g)
            .withColumn("key_micro",
                        (F.col(weight_col) + F.col("gumbel_micro"))
                        .cast("long"))
            .orderBy(F.col("key_micro").desc(), F.col(id_col).asc())
            .limit(k))
