"""Exactly-once under TASK retry: a transient executor failure mid-batch
must not duplicate or lose rows.

Spark re-runs failed tasks from the last shuffle boundary; our operators
must therefore be deterministic and side-effect-free per partition (the
write path's idempotency under JOB restart is covered by
test_pipeline_e2e::test_kill_and_resume_exactly_once — this covers the
finer-grained task-attempt case).

Needs a ``local[4, 2]`` master (maxFailures=2), which cannot coexist with
the shared test session, so the scenario runs in its own subprocess/JVM.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

SCENARIO = r"""
import sys
sys.path.insert(0, "@@REPO@@")
import pandas as pd
from pyspark.sql import SparkSession
from pyspark import TaskContext

spark = (SparkSession.builder.master("local[4, 2]").appName("retry_test")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

from ocr_system_spark.plans import pipeline

fix = pd.read_parquet("@@REPO@@/tests/fixtures/pages_2000.parquet").head(200)
cols = fix[["url", "warc_ts", "html", "text", "lang"]].copy()
cols["html"] = cols["html"].map(bytes)
pages = spark.createDataFrame(
    cols,
    schema="url string, warc_ts timestamp, html binary, text string, lang string")

MARKER = sys.argv[2]  # resolved on the DRIVER; workers see daemon argv

def faulty(batches):
    # partition 0's FIRST attempt dies after yielding partial output — the
    # dangerous case: the partial rows must be discarded by the retry, not
    # appended alongside the second attempt's full output
    ctx = TaskContext.get()
    inject = ctx.partitionId() == 0 and ctx.attemptNumber() == 0
    if inject:
        open(MARKER, "w").write("fired")  # proves the fault actually ran
    first = True
    for batch in batches:
        yield pipeline._extract_batch(batch)
        if inject and first:
            first = False
            raise RuntimeError("injected transient failure after partial output")

bucketed = pipeline.with_buckets(pages, n_buckets=8).repartition(4, "bucket_id")
res = bucketed.select("url", "bucket_id", "html", "text").mapInArrow(
    faulty, pipeline.full_result_schema())

out_path = sys.argv[1]
res.write.mode("overwrite").partitionBy("bucket_id").parquet(out_path)
got = spark.read.parquet(out_path).toPandas()
assert len(got) == 200, f"rows {len(got)}"
assert got["url"].is_unique, "task retry duplicated rows"
assert set(got["url"]) == set(fix["url"])
print("RETRY_OK")
spark.stop()
"""


def test_exactly_once_under_task_retry(tmp_path):
    script = tmp_path / "scenario.py"
    script.write_text(SCENARIO.replace("@@REPO@@", str(REPO)))
    marker = tmp_path / "fault_fired"
    proc = subprocess.run(
        [sys.executable, str(script), str(tmp_path / "out"), str(marker)],
        capture_output=True, text=True, cwd=str(REPO), timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "RETRY_OK" in proc.stdout
    # the injected failure must actually have fired (a retry happened)
    assert marker.exists(), "fault never fired — the test exercised nothing"
