"""Volume robustness check: ~100k docs (~1 GB of pages) through the FULL
checkpointed pipeline — manifests, skew-split, kill-and-resume — at
local[32]. The sandbox cannot hold 100 TB, but it can prove the pipeline's
bookkeeping (bucket manifests, dynamic-overwrite idempotency, metrics
accounting) holds far beyond test sizes and that throughput doesn't decay
with volume.

Prints one JSON line and appends to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

N_PAGES = int(os.environ.get("SPARK_GRAFT_VOLUME_PAGES", "100000"))
CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def write_tasks(spark, group: str) -> int:
    """Tasks of the stage in job group ``group`` that wrote the most rows:
    the results write, whose read side AQE sizes by shuffle bytes."""
    sc = spark.sparkContext
    jvm = sc._jvm
    tracker = sc.statusTracker()
    ids = {s for j in tracker.getJobIdsForGroup(group)
           for s in tracker.getJobInfo(j).stageIds}
    # py4j cannot fill in Scala default arguments: pass them all
    stages = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()))
    return max((s for s in stages if s.stageId() in ids),
               key=lambda s: s.outputRecords()).numCompleteTasks()


def main() -> None:
    from pyspark.sql import functions as F

    from ocr_system_spark.plans import pipeline as P
    from ocr_system_spark.plans import resume as R
    from ocr_system_spark.session import get_spark
    from ocr_system_spark.sources.pages import generate_pages

    tmp = tempfile.mkdtemp(prefix="volume_")
    pages_path = os.path.join(tmp, "pages.parquet")
    t0 = time.perf_counter()
    pdf = generate_pages(N_PAGES, seed=202, skew_rows=20, skew_factor=100, heft=3)
    pdf[["url", "warc_ts", "html", "text", "lang"]].to_parquet(
        pages_path, index=False, coerce_timestamps="us",
        allow_truncated_timestamps=True)
    gen_sec = round(time.perf_counter() - t0, 1)
    in_bytes = os.path.getsize(pages_path)

    spark = get_spark(cores=CORES, app_name="volume_check",
                      shuffle_partitions=CORES * 4)
    pages = spark.read.parquet(pages_path).repartition(CORES * 4)

    out_dir = os.path.join(tmp, "out")
    # phase 1: process ~40% of buckets, then "die"
    t0 = time.perf_counter()
    spark.sparkContext.setJobGroup("phase1", "phase1")
    s1 = P.run_extraction(spark, pages, out_dir, run_id="vol", n_buckets=256,
                          skew_bytes=1 << 18, skew_buckets=32, max_buckets=100)
    t1 = round(time.perf_counter() - t0, 1)
    # phase 2: resume to completion
    t0 = time.perf_counter()
    spark.sparkContext.setJobGroup("phase2", "phase2")
    s2 = P.run_extraction(spark, pages, out_dir, run_id="vol", n_buckets=256,
                          skew_bytes=1 << 18, skew_buckets=32)
    t2 = round(time.perf_counter() - t0, 1)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    res = P.read_results(spark, out_dir)
    n_rows = res.count()
    n_unique = res.select("url").distinct().count()
    mf = R.read_manifests(spark, out_dir, "vol").toPandas()
    fails = int(res.filter(~F.col("extract_ok")).count())

    ok = (n_rows == N_PAGES and n_unique == N_PAGES
          and int(mf["docs"].sum()) == N_PAGES and mf["bucket_id"].is_unique)
    out = {
        "n_pages": N_PAGES,
        "input_bytes": in_bytes,
        "gen_sec": gen_sec,
        "phase1_sec": t1, "phase1_buckets": s1["buckets_processed"],
        "phase1_write_tasks": write_tasks(spark, "phase1"),
        "phase2_sec": t2, "phase2_buckets": s2["buckets_processed"],
        "phase2_write_tasks": write_tasks(spark, "phase2"),
        "rows": n_rows, "unique_urls": n_unique,
        "manifest_docs": int(mf["docs"].sum()),
        "manifest_buckets": int(len(mf)),
        "extract_failures": fails,
        "docs_per_sec_processing": round(N_PAGES / (t1 + t2), 1),
        "exactly_once_ok": bool(ok),
    }
    print(json.dumps(out))

    bench = REPO / "BENCH" / "BASELINE.md"
    if bench.exists() and ok:
        with open(bench, "a") as f:
            f.write(f"""
## Volume + resume robustness ({N_PAGES:,} docs, {in_bytes / 1e6:.0f} MB input)

Full checkpointed pipeline (256 buckets + 32 skew buckets, manifests,
dynamic-overwrite output) with a simulated mid-run kill after
{s1['buckets_processed']} buckets, then resume:

* phase 1 (killed): {t1}s / {s1['buckets_processed']} buckets;
  phase 2 (resume): {t2}s / {s2['buckets_processed']} buckets
* end state: {n_rows:,} rows, {n_unique:,} unique urls, manifests cover
  {len(mf)} buckets exactly once, {fails} extract failures (the planted
  malformed payloads) — exactly-once held at volume
* aggregate processing rate {out['docs_per_sec_processing']:,} docs/s on
  local[{CORES}] including both phases' overhead.
  Reproduce: `python tools/volume_check.py`.
""")
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
