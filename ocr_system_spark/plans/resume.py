"""Checkpoint manifests + exactly-once resume (SURVEY §4.3.4).

The reference's resume story is "rewrite the whole CSV after every document"
(/root/reference/main_tk - AI.py:307-312) — correct but O(n²) and
single-writer. At cluster scale we instead make the unit of work a BUCKET
(salt group of urls):

* results are written ``partitionBy(bucket_id)`` with dynamic partition
  overwrite → re-processing a bucket atomically replaces exactly that
  bucket's output (idempotent under task retry and job restart);
* after results for a run land, one manifest row per completed bucket
  ``(run_id, bucket_id, status, docs, bytes, extract_fail_count)`` is
  appended to the manifest table;
* on restart with the same run_id, completed buckets are anti-joined away
  and only the remainder is processed.

Manifest rows double as the per-partition lineage/metrics table the north
star requires (docs, bytes, extract-fail counts per bucket).
"""

from __future__ import annotations

import os
from typing import List, Optional, Set

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("bucket_id", T.IntegerType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("docs", T.LongType(), False),
    T.StructField("bytes", T.LongType(), False),
    T.StructField("extract_fail_count", T.LongType(), False),
])


def manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifests")


def read_manifests(spark: SparkSession, out_dir: str, run_id: str) -> Optional[DataFrame]:
    path = manifest_path(out_dir)
    # local-path existence pre-check keeps first-run logs clean; non-local
    # URIs fall through to the read try/except
    if "://" not in path and not os.path.exists(path):
        return None
    try:
        df = spark.read.schema(MANIFEST_SCHEMA).parquet(path)
    except Exception:
        return None
    return df.filter((F.col("run_id") == run_id) & (F.col("status") == "done"))


def completed_buckets(spark: SparkSession, out_dir: str, run_id: str) -> Set[int]:
    mf = read_manifests(spark, out_dir, run_id)
    if mf is None:
        return set()
    return {r.bucket_id for r in mf.select("bucket_id").distinct().collect()}


def append_manifests(spark: SparkSession, out_dir: str, rows: List[dict]) -> None:
    if not rows:
        return
    # An Arrow table is decoded in the JVM whatever the session's Arrow
    # setting; a list of tuples would go through a pickled Python RDD and
    # fork a Python worker for a few metadata rows.
    table = pa.table({c: [r[c] for r in rows] for c in MANIFEST_SCHEMA.fieldNames()})
    df = spark.createDataFrame(table, schema=MANIFEST_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(manifest_path(out_dir))
