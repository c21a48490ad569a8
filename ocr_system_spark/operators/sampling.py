"""Deterministic corpus sampling operators — the curation steps between
dedup and training-set assembly.

Two operators, both chosen for EXACT cross-engine determinism (no floats,
no RNG state — a corpus rebuild on any engine reproduces the same sample
bit-for-bit, which is what makes ablations and incremental rebuilds
comparable):

* ``cap_per_group`` — keep at most ``cap`` rows per group, chosen by
  md5-order (a fair deterministic lottery). The standard WEB-PIPELINE
  treatment of dominance: cap docs per url host (one forum must not be 3%
  of the corpus), per source, per language. One window per group key;
  Spark 4 compiles the rank<=cap filter to a partial WindowGroupLimit, so
  a viral host ships ~cap rows per map partition rather than its whole
  membership — the same map-side prune ``keep_best`` gets.

* ``with_split`` — reproducible train/holdout assignment from the md5 of
  the id: a row is held out iff its digest's first hex digits fall below
  a threshold, giving exact k/16^d fractions with zero shuffle (a pure
  map — at 10^12 docs the split costs nothing and never drifts between
  runs). Hex-string comparison is engine-portable (lowercase hex on both
  Spark and DuckDB).

The reference repo has no sampling analog (it processes every file);
these belong to the training-data tier the brief adds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["cap_per_group", "with_split", "mixture_sample", "md5_key",
           "hex_prefix_value", "budget_sample", "training_order"]


def md5_key(col: Column) -> Column:
    """Lowercase-hex md5 of the value's string form — the deterministic
    lottery ticket used by both operators (and by the IVF sampler)."""
    return F.md5(col.cast("string").cast("binary"))


def hex_prefix_value(hex_str: Column, n_digits: int) -> Column:
    """The first ``n_digits`` digits of a lowercase-hex string (an md5) as
    a base-16 integer.  Each digit decodes by its position in
    '0123456789abcdef' (instr), so any engine with md5 + instr reproduces
    the value without numeric hex-parsing builtins."""
    val = None
    for i in range(1, n_digits + 1):
        d = F.instr(F.lit("0123456789abcdef"), F.substring(hex_str, i, 1)) - 1
        term = d * 16 ** (n_digits - i) if i < n_digits else d
        val = term if val is None else val + term
    return val


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """At most ``cap`` rows per ``group_col`` value, deterministically
    chosen by (md5(id), id) order — a fair lottery that is stable across
    engines, partitionings, and reruns. Rows keep all their columns."""
    from pyspark.sql import Window as W

    if cap <= 0:
        raise ValueError(f"cap must be positive, got {cap}")
    w = W.partitionBy(group_col).orderBy(md5_key(F.col(id_col)), id_col)
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= cap).drop("_rn"))


def mixture_sample(
    df: DataFrame,
    group_col: str,
    rate_sixteenths: dict,
    id_col: str = "doc_id",
    default_sixteenths: int = 16,
) -> DataFrame:
    """Deterministic DATA-MIXING sampler: keep each row with a per-group
    rate of ``rate_sixteenths[group]/16`` (16 = keep all) — the final
    curation step that upsamples high-quality tiers / downsamples noisy
    sources by exact, reproducible fractions.

    Keep rule: first hex digit of md5(id) < rate — the same zero-shuffle
    md5 lottery as ``with_split``, so mixing composes with splitting
    (a row's lottery ticket is fixed forever) and a corpus rebuild on any
    engine reproduces the identical sample.  Groups absent from the dict
    take ``default_sixteenths``.  Pure map: no shuffle, no RNG.
    """
    for g, k in rate_sixteenths.items():
        if not 0 <= k <= 16:
            raise ValueError(f"rate for {g!r} must be in [0, 16], got {k}")
    if not 0 <= default_sixteenths <= 16:
        raise ValueError(
            f"default_sixteenths must be in [0, 16], got {default_sixteenths}")
    rate = F.lit(format(default_sixteenths, "x") if default_sixteenths < 16
                 else "g")            # 'g' > 'f': keep everything
    for g, k in sorted(rate_sixteenths.items(), key=lambda kv: str(kv[0])):
        rate = F.when(F.col(group_col) == F.lit(g),
                      F.lit(format(k, "x") if k < 16 else "g")) \
                .otherwise(rate)
    return df.filter(F.substring(md5_key(F.col(id_col)), 1, 1) < rate)


def budget_sample(
    df: DataFrame,
    group_col: str,
    budgets: dict,
    weight_col: str,
    id_col: str = "doc_id",
    default_budget: "int | None" = None,
) -> DataFrame:
    """TOKEN-BUDGET data mixing: per ``group_col`` value, walk the rows in
    (md5(id), id) lottery order and keep each row while the INCLUSIVE
    cumulative ``weight_col`` stays ≤ the group's budget — the "take k
    billion tokens of lang X, m billion of lang Y" mixture-assembly step
    (``mixture_sample`` fixes RATES; this fixes absolute budgets).
    Groups absent from ``budgets`` take ``default_budget`` (None = keep
    everything).  Weights must be non-negative (token/char counts); a
    NULL weight counts as 0 (errors-as-data — the row is free), pinned
    explicitly so the bucketed plan and the naive cumulative definition
    can never disagree on all-null runs.  Rows keep all their columns.

    Scale shape — NO per-group prefix-sum window over the corpus (a
    10^11-row language through one window task is the `quality_tiers`
    global-sort sin in per-group form).  Three bounded steps, exactly
    equivalent to the naive per-group cumulative rule:

    1. Bucket each row by the first two hex digits of its ticket (256
       lottery-order ranges) and aggregate weight per (group, bucket) —
       map-side combined; output is ≤ 256·|groups| rows.
    2. Prefix-sum THAT relation per group (window over ≤256 rows/group)
       and classify each bucket: all-keep (cum_before + total ≤ budget),
       all-drop (cum_before > budget), or boundary — at most ONE
       boundary bucket per group.
    3. Join the classification back (grouped-bucket-sized relation; AQE
       broadcasts while it fits) — all-keep rows pass with no further
       work; only the boundary bucket's rows (~1/256 of one group) pay a
       row-level prefix-sum window.

    Cross-engine exact: the ticket, the bucket split, and every sum are
    integer/string-deterministic, so the oracle can state the NAIVE
    one-window definition and match bit-for-bit."""
    from pyspark.sql import Window as W

    for g, b in budgets.items():
        if b < 0:
            raise ValueError(f"budget for {g!r} must be >= 0, got {b}")
    if default_budget is not None and default_budget < 0:
        raise ValueError(
            f"default_budget must be >= 0, got {default_budget}")

    # budget expression: chained whens over the bounded dict (the
    # mixture_sample idiom); None -> "no limit" sentinel handled via null
    budget = (F.lit(None).cast("long") if default_budget is None
              else F.lit(int(default_budget)).cast("long"))
    for g, b in sorted(budgets.items(), key=lambda kv: str(kv[0])):
        budget = F.when(F.col(group_col) == F.lit(g),
                        F.lit(int(b)).cast("long")).otherwise(budget)

    t = (df.withColumn("_tk", md5_key(F.col(id_col)))
           .withColumn("_bk", F.substring(F.col("_tk"), 1, 2))
           .withColumn("_w", F.coalesce(F.col(weight_col).cast("long"),
                                        F.lit(0)))
           .withColumn("_budget", budget))

    # Non-negativity guard with ZERO extra jobs: ride a min(_w) through
    # the per-bucket aggregation the pass computes anyway and fail loudly
    # from inside the plan. A negative weight breaks the bucketed plan's
    # all-drop classification (cum_before > budget no longer implies
    # every row of the bucket exceeds it), silently diverging from the
    # naive cumulative definition the docstring (and the oracle) state.
    cells = (t.groupBy(group_col, "_bk")
             .agg(F.sum(F.col("_w")).cast("long").alias("_sum"),
                  F.min(F.col("_w")).cast("long").alias("_minw"))
             .withColumn(
                 "_total",
                 F.when(F.col("_minw") >= 0, F.col("_sum")).otherwise(
                     F.raise_error(F.lit(
                         "budget_sample: weight_col must be non-negative "
                         "(found a negative weight)"))))
             .drop("_sum", "_minw")
             .withColumn(
                 "_before",
                 F.coalesce(
                     F.sum("_total").over(
                         W.partitionBy(group_col).orderBy("_bk")
                         .rowsBetween(W.unboundedPreceding, -1)),
                     F.lit(0)).cast("long")))

    j = t.join(cells, [group_col, "_bk"])
    unlimited = F.col("_budget").isNull()
    keep_all = unlimited | (F.col("_before") + F.col("_total")
                            <= F.col("_budget"))
    drop_all = (~unlimited) & (F.col("_before") > F.col("_budget"))

    kept_whole = j.filter(keep_all)
    boundary = j.filter(~keep_all & ~drop_all)
    wrow = (W.partitionBy(group_col)
            .orderBy(F.col("_tk").asc(), F.col(id_col).asc())
            .rowsBetween(W.unboundedPreceding, 0))
    kept_boundary = (boundary
                     .withColumn("_cum", F.col("_before")
                                 + F.sum(F.col("_w")).over(wrow))
                     .filter(F.col("_cum") <= F.col("_budget"))
                     .drop("_cum"))
    return (kept_whole.unionByName(kept_boundary)
            .select(*df.columns))


def training_order(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global training-order shuffle: assigns every row a
    ``shard`` (md5-derived, uniform over ``n_shards``) and a dense
    1-based ``pos`` within the shard (ticket order) — the reproducible
    document-order randomization a training-shard writer needs (read
    shards in index order, rows in pos order, and the corpus arrives in
    a fixed pseudorandom permutation on any engine, any partitioning,
    any rerun).

    Scale shape: one shard-keyed row_number window; choose ``n_shards``
    so a shard is a training-file's worth of rows (10^4–10^6), making
    the per-task window bounded by construction — the shard count grows
    with the corpus, never the shard.  ``n_shards`` ≤ 256 (two hex
    digits of the ticket decide the shard — the cross-engine hex-decode
    idiom shared with `operators/dsir.py`)."""
    from pyspark.sql import Window as W

    if not 0 < n_shards <= 256:
        raise ValueError(f"n_shards must be in (0, 256], got {n_shards}")
    tk = md5_key(F.col(id_col))
    shard = (hex_prefix_value(tk, 2) % n_shards).cast("int")
    w = W.partitionBy("shard").orderBy(F.col("_tk").asc(),
                                       F.col(id_col).asc())
    return (df.withColumn("_tk", tk)
            .withColumn("shard", shard)
            .withColumn("pos", F.row_number().over(w))
            .drop("_tk"))


def with_split(
    df: DataFrame,
    id_col: str = "doc_id",
    holdout_sixteenths: int = 1,
    out_col: str = "split",
) -> DataFrame:
    """Adds ``split`` ∈ {'holdout', 'train'}: a row is held out iff the
    first hex digit of md5(id) is below ``holdout_sixteenths`` — an exact
    k/16 expected fraction, deterministic per id forever (new crawl
    batches land in the same split their ids dictate; no coordination,
    no shuffle, no RNG)."""
    if not 0 < holdout_sixteenths < 16:
        raise ValueError(
            f"holdout_sixteenths must be in (0, 16), got {holdout_sixteenths}")
    bound = format(holdout_sixteenths, "x")
    return df.withColumn(
        out_col,
        F.when(F.substring(md5_key(F.col(id_col)), 1, 1) < bound,
               F.lit("holdout")).otherwise(F.lit("train")))
