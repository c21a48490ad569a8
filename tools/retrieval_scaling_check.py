"""Scaling evidence for the BM25 retrieval path: single-scan term
matching + query scoring + per-query top-k at two parallelism levels
(the honest 2->8 gate span) on one box.

The north-rule gate evidence (BENCH/BASELINE.md) covers the fused
extraction job (map-dominated); this tool adds the retrieval shape —
one corpus scan matching the bounded query-term list, a matched-rows
df aggregate, broadcast query join, and the WindowGroupLimit top-k.
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

N_DOCS = int(os.environ.get("BM25_SCALE_DOCS", 1_000_000))
WORDS_PER_DOC = 12
VOCAB = 1_000
N_QUERIES = 8
TERMS_PER_QUERY = 2
TOP_K = 10
LEVELS = [2, 8]
PASSES = 2


def build(spark):
    from pyspark.sql import functions as F

    docs = spark.range(N_DOCS).select(F.col("id").alias("doc_id"))
    # Zipf-ish skew: word j of a doc draws from a j-dependent slice of the
    # vocabulary, so common terms have ~N_DOCS-sized postings and rare
    # terms ~N_DOCS/VOCAB — the df relation sees both regimes.
    words = [F.concat(F.lit("w"),
                      ((F.col("doc_id") * (2 * j + 3) + j)
                       % (VOCAB // (j + 1) + 1)).cast("string"))
             for j in range(WORDS_PER_DOC)]
    return docs.select("doc_id", F.concat_ws(" ", *words).alias("text"))


def queries(spark):
    rows = [(q, f"w{(q * 7 + t * 13) % VOCAB}")
            for q in range(N_QUERIES) for t in range(TERMS_PER_QUERY)]
    return spark.createDataFrame(rows, "query_id long, term string")


def run_once(spark, corpus) -> int:
    from ocr_system_spark.operators.retrieval import bm25_topk

    n = bm25_topk(corpus, queries(spark), k=TOP_K).count()
    assert n <= N_QUERIES * TOP_K, n
    return n


def main() -> None:
    import tempfile

    from ocr_system_spark.session import get_spark

    # materialize the corpus ONCE, outside the timed region: generating
    # 6M synthetic rows is allocation-bound string concat whose own
    # multi-core scaling is not the thing under measurement
    tmp = tempfile.mkdtemp(prefix="bm25_scale_")
    path = f"{tmp}/docs.parquet"
    gen = get_spark(cores=max(LEVELS), app_name="bm25_scale_gen",
                    shuffle_partitions=max(LEVELS) * 2)
    build(gen).repartition(64).write.mode("overwrite").parquet(path)
    gen.stop()

    results = {}
    for cores in LEVELS:
        spark = get_spark(cores=cores, app_name=f"bm25_scale_{cores}",
                          shuffle_partitions=max(cores * 2, 8))
        # cache the corpus in executor memory, untimed: the sandbox disk
        # is throttled and does not scale with cores — the operator under
        # measurement is the scoring plan, not parquet decode
        corpus = spark.read.parquet(path).persist()
        corpus.count()
        run_once(spark, corpus)              # warm (worker fork, codegen)
        walls = []
        for _ in range(PASSES):
            t0 = time.perf_counter()
            run_once(spark, corpus)
            walls.append(round(time.perf_counter() - t0, 3))
        results[cores] = {"best": min(walls), "walls": walls,
                          "docs_per_sec": round(N_DOCS / min(walls), 1)}
        spark.stop()

    lo, hi = LEVELS
    print(json.dumps({
        "metric": f"bm25_topk scaling ({N_DOCS} docs, {N_QUERIES} queries)",
        "levels": results,
        f"span_{lo}_to_{hi}_efficiency": round(
            (results[lo]["best"] / results[hi]["best"]) / (hi / lo), 3),
        "loadavg": round(os.getloadavg()[0], 2),
    }))


if __name__ == "__main__":
    main()
