"""Benchmark harness (driver-run per round; see BASELINE.md).

Runs the headline workloads at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "extract_docs_per_sec": ...}

Workloads:
* extract_pipeline — the flagship: pages (documents wrapped in HTML chrome,
  replicated ×4 ≈ 20k docs at sf0.1) → salt-bucketed fused extraction
  (HTML main-content kernel + full regex field layer) → count+agg sink.
  docs/sec from this is the BASELINE.md headline number.
* fields_only    — regex field layer alone over raw text.
* dedup_minhash  — MinHash+LSH near-dup pairs over documents ∪ perturbed.
* dedup_exact    — content-hash dedup groups.
* embedding_topk — brute-force cosine top-5, 50 queries vs full corpus.
* agg_pricing / multi_join / window_topk / ordered_concat — relational ops
  on the TPC-H-ish tables (lineitem 600k rows at sf0.1).
* line_dedup / c4_filters — line-level curation (added round 4: the suite
  TOTAL is not comparable to rounds <= 3; compare per-query, or subtract
  these two from the total).
* paragraph_dedup / quality_tiers_bucketed / fuzzy_dedup_e2e — round-5
  additions (NFC normalize → CCNet paragraph pass; two-pass equal-count
  tier binning; LSH pairs → components → keep-best composition).
  Suite TOTAL is again not comparable to round 4 — compare per-query.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPLICATE = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICATE", "4"))
# host loadavg at start/end: the co-tenancy witness for this run's window
LOAD0 = round(os.getloadavg()[0], 2)


def build_pages(spark, sf_dir: str, replicate: int):
    """documents → HTML pages, replicated ×replicate with distinct ids."""
    from ocr_system_spark.sources.tables import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    if replicate > 1:
        reps = spark.range(replicate).withColumnRenamed("id", "rep")
        pages = (
            pages.crossJoin(reps)
            .withColumn("url", F.concat_ws("#", F.col("url"), F.col("rep")))
            .drop("rep")
        )
    # the single-file parquet scan yields 1-2 partitions — spread to the
    # core count or the whole suite runs on 2 of 32 cores (a real crawl
    # table arrives in thousands of splits)
    return pages.repartition(CPUS * 2)


def main() -> None:
    from ocr_system_spark.operators import dedup, similarity
    from ocr_system_spark.operators.extract import extract_fields
    from ocr_system_spark.plans.pipeline import extract_all, with_buckets
    from ocr_system_spark.session import TIERED_JIT_CONF, get_spark
    from ocr_system_spark.sources.tables import load

    # Tiered C1+C2, not get_spark's C1-only default: one session runs every
    # leaf 3 times, long enough for C2's code to pay back (BASELINE.md).
    spark = get_spark(cores=CPUS, app_name="bench",
                      shuffle_partitions=max(CPUS, 8),
                      extra_conf=TIERED_JIT_CONF)

    timings: dict[str, float] = {}
    spread: dict[str, list] = {}
    extras: dict[str, float] = {}

    def timed(name: str, fn, reps: int = 3, between=None) -> None:
        # best-of-N (N=3): this box is co-tenanted (host load spikes with
        # zero local processes) and single-shot walls swing 2-5×; the minimum is
        # the interference-free estimate. The first reps also absorb
        # first-execution JIT for shapes the suite hasn't warmed.
        # ``between`` resets state OUTSIDE the timing (e.g. drops a query's
        # internal caches so every rep re-executes all real work).
        # ALL rep timings are reported under "spread": a 2-5× max/min ratio
        # is the co-tenant noise signature, so a slow headline number is
        # classifiable as interference (wide spread) vs a real regression
        # (tight spread at the slow value) from the JSON alone.
        all_reps = []
        for i in range(reps):
            if i and between is not None:
                between()
            t0 = time.perf_counter()
            fn()
            all_reps.append(round(time.perf_counter() - t0, 3))
        timings[name] = min(all_reps)
        spread[name] = all_reps

    # ---- flagship extraction pipeline ------------------------------------
    pages = build_pages(spark, SF_DIR, REPLICATE)
    n_docs = pages.count()  # materialize input count outside the timing

    # fork+import every Python worker once (regex compile, module import)
    # before any timing — a long-lived cluster amortizes these to zero
    warm = with_buckets(pages.limit(CPUS * 8).repartition(CPUS), n_buckets=CPUS)
    extract_all(warm).count()

    def run_pipeline():
        bucketed = with_buckets(pages, n_buckets=max(CPUS * 4, 32),
                                skew_bytes=1 << 20)
        res = extract_all(bucketed)
        row = res.agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.when(F.col("extract_ok"), 0).otherwise(1)).alias("fails"),
            F.count("license_id").alias("lic"),
        ).collect()[0]
        assert row["docs"] == n_docs, (row["docs"], n_docs)

    timed("extract_pipeline", run_pipeline)
    extras["extract_docs"] = n_docs
    extras["extract_docs_per_sec"] = round(n_docs / timings["extract_pipeline"], 1)

    # ---- regex field layer alone ------------------------------------------
    def run_fields():
        res = extract_fields(pages)
        res.agg(F.count("license_id"), F.count("start_date")).collect()

    timed("fields_only", run_fields)

    # ---- dedup -------------------------------------------------------------
    # single-file parquet scans arrive as 1-2 partitions; spread + cache the
    # input OUTSIDE the timing (a real corpus arrives in many splits and the
    # timed operator starts from distributed storage either way)
    # 16 partitions ≈ 300 docs/task: enough parallelism for the shingle
    # kernel without drowning the small relational stages in task overhead
    docs = (load(spark, SF_DIR, "documents")
            .select("doc_id", "text").repartition(16).cache())
    docs.count()

    # warm the minhash join/UDF shapes once AT FULL SIZE (first-ever
    # execution pays JVM codegen + JIT tiering for these plan shapes; a
    # long-lived cluster amortizes that to zero), then clear the
    # plan-matched cache so the timed run re-executes ALL real work —
    # shingle kernel, signatures, band join, verification
    def run_minhash():
        both = dedup.with_near_dup_copies(docs, "doc_id")
        dedup.minhash_lsh_pairs(both, "doc_id", min_jaccard_pct=70).count()

    def reset_caches():
        # drop minhash's internal plan-matched caches (else rep 2 would
        # skip the shingle kernel entirely) and re-pin the input
        spark.catalog.clearCache()
        docs.cache().count()

    # TWO untimed warm runs: this is the suite's most complex plan shape
    # (fused kernel + banded self-join + verify joins) and measured JIT
    # tiering keeps improving it through ~4 executions (2.37→1.67 s over 5
    # standalone reps, round-4 probe) — a long-lived cluster runs the
    # steady state, which is what the timed reps should see.
    run_minhash()
    reset_caches()
    run_minhash()
    reset_caches()

    timed("dedup_minhash", run_minhash, between=reset_caches)
    reset_caches()

    def run_exact():
        dup = docs.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
        dedup.exact_dedup_groups(docs.union(dup), "doc_id").count()

    timed("dedup_exact", run_exact)

    # ---- line-level curation (round-4 additions) ---------------------------
    import __spark_entry__ as entrymod

    qmap = entrymod.queries()

    def run_line_dedup():
        qmap["line_dedup"](spark, SF_DIR).count()

    timed("line_dedup", run_line_dedup)

    def run_c4_filters():
        qmap["c4_filters"](spark, SF_DIR).count()

    timed("c4_filters", run_c4_filters)

    def run_paragraph_dedup():
        qmap["paragraph_dedup"](spark, SF_DIR).count()

    timed("paragraph_dedup", run_paragraph_dedup)

    def run_quality_tiers():
        qmap["quality_tiers_bucketed"](spark, SF_DIR).count()

    timed("quality_tiers_bucketed", run_quality_tiers)

    def run_fuzzy_dedup_e2e():
        qmap["fuzzy_dedup_e2e"](spark, SF_DIR).count()

    timed("fuzzy_dedup_e2e", run_fuzzy_dedup_e2e)

    def run_host_pagerank():
        qmap["host_pagerank"](spark, SF_DIR).count()

    timed("host_pagerank", run_host_pagerank)

    def run_bm25_topk():
        qmap["bm25_topk"](spark, SF_DIR).count()

    timed("bm25_topk", run_bm25_topk)

    # ---- similarity ---------------------------------------------------------
    emb = load(spark, SF_DIR, "embeddings")

    def run_topk():
        similarity.brute_force_topk(
            emb, emb.filter(F.col("vec_id") < 50), k=5
        ).count()

    timed("embedding_topk", run_topk)

    # ---- relational ----------------------------------------------------------
    li = load(spark, SF_DIR, "lineitem")
    orders = load(spark, SF_DIR, "orders")
    cust = load(spark, SF_DIR, "customer")
    nation = load(spark, SF_DIR, "nation")
    region = load(spark, SF_DIR, "region")
    events = load(spark, SF_DIR, "events")

    def run_agg():
        (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
         .groupBy("l_returnflag", "l_linestatus")
         .agg(F.sum("l_quantity"), F.sum("l_extendedprice"),
              F.avg("l_discount"), F.count(F.lit(1)))
         .collect())

    timed("agg_pricing", run_agg)

    def run_join():
        (li.join(orders, li.l_orderkey == orders.o_orderkey)
         .join(cust, orders.o_custkey == cust.c_custkey)
         .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
         .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
         .groupBy("r_name")
         .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
         .collect())

    timed("multi_join", run_join)

    def run_window():
        from pyspark.sql import Window as W
        w = W.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id"))
        (events.withColumn("rk", F.row_number().over(w))
         .filter(F.col("rk") <= 3).count())

    timed("window_topk", run_window)

    def run_concat():
        (events.groupBy("user_id")
         .agg(F.array_join(
             F.transform(
                 F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                 lambda x: x["event_type"]), ",").alias("seq"))
         .count())

    timed("ordered_concat", run_concat)

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "headline suite wall time (extraction pipeline + dedup + similarity + relational)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "loadavg_start": LOAD0,
        "loadavg_end": round(os.getloadavg()[0], 2),
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        **extras,
        "cpus": CPUS,
        "driver_jit": "tiered",
    }))
    spark.stop()


if __name__ == "__main__":
    main()
