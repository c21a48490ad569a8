"""Model-based quality scoring: linear bag-of-words document scorer.

The "model-based quality filter" stage of public web-curation pipelines
(CCNet's fastText LM filter, RefinedWeb/FineWeb quality classifiers): a
LINEAR scorer over token features is the production-standard shape
because it runs at crawl scale.  Two paths:

* ``linear_score(df, weights)`` — the real operator: per-token weights
  arrive as a (term, weight) relation (exported from any trained linear /
  fastText-style model), joined to the corpus token stream, summed per
  document.  One corpus-sized explode + term join (Spark broadcasts the
  weight table whenever it fits) + map-side-combined sum: no shuffle of
  the corpus beyond the per-doc aggregation.
* ``hashed_linear_score(df)`` — the same dataflow with a DETERMINISTIC
  stub weight function (md5-hex-derived integer in [-1000, 1000]) instead
  of a trained table, so correctness of the scoring plumbing is
  cross-engine verifiable bit-for-bit without shipping a model file.
  The weight derivation is pure JVM expression (no join at all).

Integer-exact throughout: weights and scores are integers, so an
independent SQL engine reproduces every score exactly (a float model
would be replayed via its quantized integer export, same as the int8
similarity path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_system_spark.functions.tokens import exploded_terms as _tokens
from ocr_system_spark.persist import persist

from .sampling import hex_prefix_value

__all__ = ["linear_score", "hashed_linear_score", "stub_weight_expr",
           "host_quality_blocklist", "quality_tiers",
           "quality_tiers_bucketed"]

def stub_weight_expr(term: Column) -> Column:
    """Deterministic stand-in weight for a term: the first four hex digits
    of md5(term) as a base-16 integer, mapped to [-1000, 1000] via
    ``% 2001 - 1000`` (``sampling.hex_prefix_value``)."""
    val = hex_prefix_value(F.md5(F.encode(term, "UTF-8")), 4)
    return (val % 2001 - 1000).cast("long")


def hashed_linear_score(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        threshold: int = 0) -> DataFrame:
    """Per-document linear quality score with the stub weight function:
    (id, n_tokens, score, keep) where score = Σ weight(token) over the
    token stream (with multiplicity) and keep = score >= threshold.
    Zero joins: weight is computed inline per token; one per-doc hash
    aggregation is the only shuffle."""
    tok = _tokens(df, id_col, text_col)
    return (
        tok.select("id", stub_weight_expr(F.col("term")).alias("w"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
             F.sum("w").cast("long").alias("score"))
        .withColumn("keep", F.col("score") >= F.lit(threshold))
    )


def host_quality_blocklist(scored: DataFrame, host_col: str = "host",
                           score_col: str = "score",
                           threshold_num: int = 0,
                           threshold_den: int = 1) -> DataFrame:
    """HOST-level curation (the RefinedWeb/C4 site-blocklist move): roll
    per-document quality scores up to their host and flag hosts whose
    MEAN score falls below ``threshold_num / threshold_den`` —
    (host, n_docs, score_sum, blocked).  The comparison is the integer
    cross-multiplication ``score_sum · den < num · n_docs`` (no float
    mean, exact on any engine); consumers anti-join their corpus against
    the blocked hosts.

    Scale shape: one host-keyed, map-side-combined aggregation — the
    output is host-cardinality, the natural size of a site blocklist;
    no window, no join, no driver collect."""
    if threshold_den <= 0:
        raise ValueError(
            f"threshold_den must be positive, got {threshold_den}")
    return (scored.groupBy(host_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum(score_col).cast("long").alias("score_sum"))
            .withColumn("blocked",
                        F.col("score_sum") * F.lit(int(threshold_den))
                        < F.lit(int(threshold_num)) * F.col("n_docs")))


def quality_tiers(scored: DataFrame, score_col: str = "score",
                  id_col: str = "id", n_tiers: int = 4) -> DataFrame:
    """Bin scored documents into ``n_tiers`` equal-count quality tiers
    (tier 1 = lowest score) — the FineWeb/CCNet-style bucketing that
    feeds curriculum mixing and per-tier sampling rates.

    Deterministic total order (score, then id) makes ntile reproducible
    across engines, partitionings, and reruns.  One global sort — the
    same single-total-order shape as any ranking sink; for corpora where
    a global sort is unacceptable, bucket by precomputed score
    thresholds instead (two passes: approx quantiles, then a map).
    """
    from pyspark.sql import Window as W

    if n_tiers <= 0:
        raise ValueError(f"n_tiers must be positive, got {n_tiers}")
    w = W.orderBy(F.col(score_col).asc(), F.col(id_col).asc())
    return scored.select(
        F.col(id_col).alias("id"),
        F.col(score_col).alias("score"),
        F.ntile(n_tiers).over(w).cast("int").alias("tier"),
    )


def quality_tiers_bucketed(scored: DataFrame, score_col: str = "score",
                           id_col: str = "id",
                           n_tiers: int = 4) -> DataFrame:
    """Equal-count quality tiers WITHOUT a global sort — the corpus-scale
    form of :func:`quality_tiers`, bit-identical to it on any input
    (exact ntile parity, including ties and the ntile remainder rule).

    ``quality_tiers``'s single unpartitioned ntile window forces the
    entire corpus through one task — fine for reports, fatal for the
    10^12-doc FineWeb-style binning it exists for.  This variant is two
    bounded passes plus a map:

    1. Score distribution: ``groupBy(score).count()`` (map-side combined;
       output bounded by the DISTINCT-SCORE domain, not the corpus — the
       integer-exact scorers keep that domain small).  From the sorted
       distribution the driver derives, for each of the ``n_tiers - 1``
       ntile boundary RANKS, the boundary score and the within-score
       offset of the boundary row.
    2. Boundary ids: only rows whose score is a boundary score (≤
       n_tiers - 1 values) pass a score-keyed ``row_number`` window to
       resolve the id at each offset — the (score, id) cutpoint rows.
    3. Assignment: ``tier = 1 + #cutpoints lexicographically below the
       row`` — a pure map-side comparison chain, zero shuffle, no window,
       no Exchange at all on the corpus (pinned by plan test).

    Tie determinism matches ntile's (score, id) total order exactly:
    cutpoints are half-open on the id at the boundary — a row equal to a
    cutpoint stays in the lower tier, a row with the same score but a
    larger id falls above it.

    Scale notes: the driver holds the score distribution (use
    ``approx_percentile``-seeded thresholds instead if the score domain
    is unbounded floats); the pass-2 window partitions by score, so a
    single massively-tied boundary score is the residual skew case; the
    comparison chain is linear in ``n_tiers`` (for hundreds of tiers,
    broadcast-range-join the cutpoint table instead).

    The input is read three times (distribution, boundary ids, final
    assignment), so an un-persisted upstream (e.g. the token-explode
    scorer) would be recomputed per pass; the slim (id, score) projection
    is persisted instead (``ocr_system_spark.persist``)."""
    if n_tiers <= 0:
        raise ValueError(f"n_tiers must be positive, got {n_tiers}")
    scored = persist(scored.select(id_col, score_col))
    out_cols = [F.col(id_col).alias("id"), F.col(score_col).alias("score")]

    dist = sorted(
        scored.groupBy(F.col(score_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("c")).collect(),
        key=lambda r: r["s"])
    n = sum(r["c"] for r in dist)
    if n == 0 or n_tiers == 1:
        return scored.select(*out_cols, F.lit(1).cast("int").alias("tier"))

    # ntile boundary ranks: tier i (1-based) ends at rank i*base + min(i, rem)
    base, rem = divmod(n, n_tiers)
    bound_ranks = [min(i * base + min(i, rem), n)
                   for i in range(1, n_tiers)]

    # boundary rank -> (boundary score, 1-based offset within that score)
    locs: list[tuple] = []
    cum, j = 0, 0
    for r in dist:
        while j < len(bound_ranks) and bound_ranks[j] <= cum + r["c"]:
            locs.append((r["s"], bound_ranks[j] - cum))
            j += 1
        cum += r["c"]

    need: dict = {}
    for s, off in locs:
        need.setdefault(s, set()).add(off)
    from pyspark.sql import Window as W
    w = W.partitionBy("s").orderBy(F.col("i").asc())
    hit = None
    for s, offs in need.items():
        cond = (F.col("s") == F.lit(s)) & F.col("rn").isin(sorted(offs))
        hit = cond if hit is None else (hit | cond)
    cut_rows = (scored
                .filter(F.col(score_col).isin(list(need)))
                .select(F.col(score_col).alias("s"),
                        F.col(id_col).alias("i"))
                .select("s", "i", F.row_number().over(w).alias("rn"))
                .filter(hit).collect())
    id_at = {(r["s"], r["rn"]): r["i"] for r in cut_rows}
    cutpoints = [(s, id_at[(s, off)]) for s, off in locs]

    above = [
        F.when((F.col(score_col) > F.lit(s))
               | ((F.col(score_col) == F.lit(s))
                  & (F.col(id_col) > F.lit(i))), 1).otherwise(0)
        for s, i in cutpoints]
    tier = above[0]
    for a in above[1:]:
        tier = tier + a
    return scored.select(*out_cols,
                         (tier + F.lit(1)).cast("int").alias("tier"))


def linear_score(df: DataFrame, weights: DataFrame,
                 id_col: str = "doc_id", text_col: str = "text",
                 default_weight: int = 0,
                 threshold: int = 0) -> DataFrame:
    """Per-document linear score against a trained (term, weight) relation
    (integer weights — export a float model quantized; one row per term,
    or the join fans out).  Out-of-vocabulary tokens take
    ``default_weight``.  Spark picks the term join from the weight
    table's size: a broadcast while it fits (linear text models are ≤ a
    few hundred MB quantized), else a shuffle of the pre-aggregated token
    counts on term."""
    tok = _tokens(df, id_col, text_col)
    tf = tok.groupBy("id", "term").agg(
        F.count(F.lit(1)).alias("tf"))
    joined = tf.join(weights, on="term", how="left")
    w = F.coalesce(F.col("weight"), F.lit(default_weight))
    return (
        joined.groupBy("id")
        .agg(F.sum("tf").cast("long").alias("n_tokens"),
             F.sum(F.col("tf") * w).cast("long").alias("score"))
        .withColumn("keep", F.col("score") >= F.lit(threshold))
    )
