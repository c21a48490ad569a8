"""Volume + scaling evidence for the FUZZY DEDUP END-TO-END composition
(`fuzzy_dedup_e2e` shape): MinHash-LSH verified pairs → connected
components → quality keep-best, at two parallelism levels (the honest
2→8 gate span) on one box.

The north-rule gate evidence (BENCH/BASELINE.md) covers the
map-dominated extraction job.  This tool covers the JOIN-heavy path:
band self-join + two id-keyed verification joins + iterative component
propagation + a component-keyed window — the shuffle shapes a 100-TB
global dedup actually runs.

Corpus (deterministic, built ON the cluster): N originals of 30
unique-per-doc words; every 10th doc gets a near-dup copy (id+10M) with
two words APPENDED — J = 28/30 ≈ 0.93, found by every band with miss
probability ~1e-10, and the copy out-scores its source so keep-best
provably differs from min-id keep-one.  Exact expected outputs asserted
at every level: N/10 verified pairs, N kept rows, every winner of a
merged cluster is the COPY.

Same discipline as tools/scaling_bench.py: one untimed warm pass per
level, two timed passes, per-level wall = minimum (co-tenant box).

Prints one JSON line; record results in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

N_DOCS = int(os.environ.get("SPARK_GRAFT_FUZZY_VOLUME_DOCS", "200000"))
WORDS_PER_DOC = 30
COPY_EVERY = 10
LEVELS = [2, 8]
PASSES = 2


def build(spark):
    from pyspark.sql import functions as F

    def mk(ids):
        words = F.concat_ws(" ", F.array(*[
            F.concat(F.lit("t"), F.col("id").cast("string"), F.lit(f"x{j}"))
            for j in range(WORDS_PER_DOC)]))
        return ids.select(F.col("id").alias("doc_id"), words.alias("text"))

    originals = mk(spark.range(N_DOCS))
    copies = mk(
        spark.range(N_DOCS // COPY_EVERY)
        .select((F.col("id") * COPY_EVERY).alias("id"))
    ).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq1 zq2")).alias("text"))
    return originals.union(copies)


def run_once(spark) -> dict:
    from pyspark.sql import functions as F

    from ocr_system_spark.operators.components import (
        connected_components, keep_best)
    from ocr_system_spark.operators.dedup import minhash_lsh_pairs
    from ocr_system_spark.operators.textstats import with_token_counts
    from ocr_system_spark.persist import scoped_persist

    both = build(spark)
    # the scope releases the operator caches before the next repetition
    with scoped_persist():
        edges = minhash_lsh_pairs(both, "doc_id", min_jaccard_pct=70)
        comps = connected_components(
            edges, nodes=both.select(F.col("doc_id").alias("id")))
        scored = with_token_counts(both).select("doc_id", "ws_tokens")
        kept = keep_best(scored, comps, "ws_tokens", id_col="doc_id")
        agg = kept.agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum((F.col("doc_id") >= 10_000_000).cast("long"))
            .alias("n_copy_winners"),
            F.sum((F.col("doc_id") != F.col("comp")).cast("long"))
            .alias("n_non_min_id"),
        ).collect()[0]
    n_pairs = N_DOCS // COPY_EVERY
    assert agg["n_kept"] == N_DOCS, agg
    assert agg["n_copy_winners"] == n_pairs, agg
    assert agg["n_non_min_id"] == n_pairs, agg
    return dict(agg.asDict())


def main() -> None:
    from ocr_system_spark.session import get_spark

    results: dict = {}
    for cores in LEVELS:
        spark = get_spark(cores=cores, app_name=f"fuzzy_scaling_{cores}",
                          shuffle_partitions=cores * 4)
        run_once(spark)                      # warm (fork/import amortized)
        walls = []
        for _ in range(PASSES):
            t0 = time.perf_counter()
            run_once(spark)
            walls.append(round(time.perf_counter() - t0, 2))
        spark.stop()
        best = min(walls)
        results[cores] = {
            "walls": walls, "best_sec": best,
            "docs_per_sec": round((N_DOCS + N_DOCS // COPY_EVERY) / best, 1),
            "loadavg": round(os.getloadavg()[0], 2),
        }

    lo, hi = LEVELS
    speedup = round(results[lo]["best_sec"] / results[hi]["best_sec"], 3)
    eff = round(speedup / (hi / lo), 3)
    print(json.dumps({
        "metric": "fuzzy dedup e2e (LSH pairs + components + keep-best) scaling",
        "docs": N_DOCS + N_DOCS // COPY_EVERY, "pairs": N_DOCS // COPY_EVERY,
        "levels": results, "span": f"{lo}->{hi}",
        "speedup": speedup, "ideal": hi / lo, "efficiency": eff,
    }))


if __name__ == "__main__":
    main()
