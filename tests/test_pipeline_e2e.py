"""End-to-end pipeline tests on local Spark: full job, byte-identity at the
output table, metrics/manifest accounting, partition-count invariance,
kill-and-resume exactly-once (FIXTURES.md §4)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_system_spark.plans import pipeline as P
from ocr_system_spark.plans import resume as R

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])


def pages_df(spark, pdf: pd.DataFrame):
    cols = pdf[["url", "warc_ts", "html", "text", "lang"]].copy()
    cols["html"] = cols["html"].map(lambda b: bytes(b) if b is not None else None)
    return spark.createDataFrame(cols, schema=PAGES_SCHEMA)


@pytest.fixture(scope="module")
def small_pages(pages_fixture):
    return pages_fixture.head(400).reset_index(drop=True)


def test_full_job_and_byte_identity(spark, small_pages, golden_fields, tmp_path):
    out = str(tmp_path / "job1")
    summary = P.run_extraction(
        spark, pages_df(spark, small_pages), out, run_id="r1", n_buckets=16
    )
    assert summary["docs_processed"] == len(small_pages)

    res = P.read_results(spark, out).toPandas().set_index("url")
    assert len(res) == len(small_pages)

    # field columns byte-identical to the reference-generated goldens
    gold = golden_fields.set_index("url").loc[res.index]
    for col in ["license_id", "date", "reference_id", "address",
                "start_date", "end_date", "licenses", "renew_times", "notes"]:
        for url in res.index:
            o, g = res.at[url, col], gold.at[url, col]
            o = None if pd.isna(o) else o
            g = None if pd.isna(g) else g
            if o is None or g is None:
                assert o is None and g is None, (col, url, o, g)
            else:
                assert o.encode() == g.encode(), (col, url, o, g)

    # extracted_text matches the generator-known main content
    meta = small_pages.set_index("url")
    for url in res.index:
        kind = meta.at[url, "payload_kind"]
        if kind in ("html", "pdf"):
            assert res.at[url, "extracted_text"] == meta.at[url, "expected_main"], url
            assert res.at[url, "extract_ok"]

    # failure accounting: exactly the unsupported payloads fail
    expected_fail = int(
        sum(1 for b, k in zip(meta["html"], meta["payload_kind"])
            if k == "bad" and (len(bytes(b)) == 0 or (not bytes(b).startswith(b"%PDF")
                                                      and not bytes(b).lstrip()[:1] == b"<")))
    )
    assert summary["extract_failures"] == expected_fail

    # manifests: sum(docs) == input count; all buckets 'done'
    mf = R.read_manifests(spark, out, "r1").toPandas()
    assert mf["docs"].sum() == len(small_pages)
    assert (mf["status"] == "done").all()
    assert mf["extract_fail_count"].sum() == expected_fail


def test_partition_count_invariance(spark, small_pages, tmp_path):
    """Same results at different bucket counts / parallelism (the correctness
    half of the scaling claim, SURVEY §5.2.5)."""
    a = P.run_extraction(spark, pages_df(spark, small_pages), str(tmp_path / "a"),
                         run_id="ra", n_buckets=8)
    b = P.run_extraction(spark, pages_df(spark, small_pages), str(tmp_path / "b"),
                         run_id="rb", n_buckets=32)
    ra = P.read_results(spark, str(tmp_path / "a")).drop("bucket_id").toPandas() \
        .sort_values("url").reset_index(drop=True)
    rb = P.read_results(spark, str(tmp_path / "b")).drop("bucket_id").toPandas() \
        .sort_values("url").reset_index(drop=True)
    ra["spans"] = ra["spans"].map(lambda s: None if s is None else [tuple(x) for x in s])
    rb["spans"] = rb["spans"].map(lambda s: None if s is None else [tuple(x) for x in s])
    pd.testing.assert_frame_equal(ra, rb)


def test_kill_and_resume_exactly_once(spark, small_pages, tmp_path):
    out_resumed = str(tmp_path / "resumed")
    out_straight = str(tmp_path / "straight")

    # run 1 "dies" after 5 of 16 buckets
    s1 = P.run_extraction(spark, pages_df(spark, small_pages), out_resumed,
                          run_id="rr", n_buckets=16, max_buckets=5)
    assert s1["buckets_processed"] == 5
    # run 2 with same run_id resumes the remainder only
    s2 = P.run_extraction(spark, pages_df(spark, small_pages), out_resumed,
                          run_id="rr", n_buckets=16)
    assert s2["buckets_done_before"] == 5
    assert s1["docs_processed"] + s2["docs_processed"] == len(small_pages)

    # uninterrupted baseline
    P.run_extraction(spark, pages_df(spark, small_pages), out_straight,
                     run_id="rs", n_buckets=16)

    a = P.read_results(spark, out_resumed).toPandas().sort_values("url").reset_index(drop=True)
    b = P.read_results(spark, out_straight).toPandas().sort_values("url").reset_index(drop=True)
    # exactly-once: unique per url, same rows as the single-shot run
    assert a["url"].is_unique
    a["spans"] = a["spans"].map(lambda s: None if s is None else [tuple(x) for x in s])
    b["spans"] = b["spans"].map(lambda s: None if s is None else [tuple(x) for x in s])
    pd.testing.assert_frame_equal(a, b)

    # manifests cover every bucket exactly once
    mf = R.read_manifests(spark, out_resumed, "rr").toPandas()
    assert mf["bucket_id"].is_unique
    assert mf["docs"].sum() == len(small_pages)


def test_skew_split_routing(spark):
    from ocr_system_spark.sources.pages import generate_pages
    pdf = generate_pages(60, seed=5, skew_rows=3, skew_factor=300)
    df = pages_df(spark, pdf)
    bucketed = P.with_buckets(df, n_buckets=8, skew_bytes=1 << 16, skew_buckets=4)
    rows = bucketed.select("url", "bucket_id", F.length("html").alias("len")).toPandas()
    big = rows[rows["len"] > (1 << 16)]
    small = rows[rows["len"] <= (1 << 16)]
    assert len(big) >= 1
    assert (big["bucket_id"] >= 8).all(), "oversize blobs must land in skew buckets"
    assert (small["bucket_id"] < 8).all()


def test_bucket_exchange_sized_by_bytes(spark, tmp_path):
    """The bucket exchange is sized by AQE from its shuffle bytes, so a small
    input runs fewer tasks than buckets, while the bucket layout, the
    manifests and the skew routing are those of one bucket per partition."""
    from ocr_system_spark.sources.pages import generate_pages
    n_buckets, skew_buckets, skew_bytes = 16, 8, 1 << 16
    pdf = generate_pages(200, seed=5, skew_rows=3, skew_factor=300)
    df = pages_df(spark, pdf)
    out = str(tmp_path / "sized")
    sc = spark.sparkContext
    group = "test_bucket_exchange_sized_by_bytes"
    sc.setJobGroup(group, group)
    try:
        P.run_extraction(spark, df, out, run_id="rz", n_buckets=n_buckets,
                         skew_bytes=skew_bytes, skew_buckets=skew_buckets)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    # every stage of the job, the write stage included, ran fewer tasks
    # than the exchange's initial n_buckets + skew_buckets partitions
    st = sc.statusTracker()
    stages = [st.getStageInfo(s) for j in st.getJobIdsForGroup(group)
              for s in st.getJobInfo(j).stageIds]
    ran = [s.numCompletedTasks for s in stages if s is not None]
    assert ran and max(ran) < n_buckets + skew_buckets, ran

    res = P.read_results(spark, out).select("url", "bucket_id").toPandas()
    assert res["url"].is_unique and len(res) == len(pdf)
    mf = R.read_manifests(spark, out, "rz").toPandas()
    assert set(res["bucket_id"]) == set(mf["bucket_id"])
    assert mf["docs"].sum() == len(pdf)
    blobs = pdf.loc[pdf["html"].map(len) > skew_bytes, "url"]
    assert len(blobs) >= 1
    assert (res.set_index("url").loc[blobs, "bucket_id"] >= n_buckets).all()
