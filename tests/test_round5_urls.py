"""Round-5 URL-filtering operator: blocklist with subdomain matching +
soft flagged-word score (the RefinedWeb §3.1 'URL filtering' stage; no
reference analog — the reference enumerates local files)."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_system_spark.operators.urls import (
    host_of, host_suffixes, url_blocklist_filter)


def _hosts(spark, urls):
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                               "doc_id long, url string")
    return [r["h"] for r in
            df.select(host_of(F.col("url")).alias("h"))
              .orderBy("doc_id").collect()]


class TestHostOf:
    def test_strips_port_userinfo_and_lowercases(self, spark):
        got = _hosts(spark, [
            "https://Ads.Example.COM:8080/x",
            "http://user:pw@Sub.Site.org/p",
            "ftp://files.example.net",
            "not a url at all",
            "relative/path/only",
        ])
        assert got == ["ads.example.com", "sub.site.org",
                       "files.example.net", "", ""]

    def test_suffixes_longest_first(self, spark):
        df = spark.createDataFrame([("a.b.co",)], "host string")
        got = df.select(
            host_suffixes(F.col("host")).alias("s")).collect()[0]["s"]
        assert got == ["a.b.co", "b.co", "co"]


def _filtered(spark):
    rows = [
        (0, "https://ads.tracker.com/banner"),       # subdomain of blocked
        (1, "https://tracker.com/x"),                # exact blocked
        (2, "https://nottracker.com/x"),             # NOT a suffix match
        (3, "https://shop.example/p?q=1"),           # clean
        (4, "http://fun.win/casino"),                # 1 soft hit -> kept
        (5, "http://fun.win/casino-poker"),          # 2 soft hits -> drop
        (6, "http://cdn.bad.example:443/a"),         # blocked via suffix
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    blocked = spark.createDataFrame(
        [("tracker.com",), ("bad.example",)], "host string")
    return url_blocklist_filter(df, blocked, soft_words=["casino", "poker"],
                                max_soft_hits=1)


class TestUrlBlocklistFilter:
    @pytest.fixture(scope="class")
    def kept(self, spark):
        return {r["doc_id"]: r for r in _filtered(spark).collect()}

    def test_shuffle_join_path_identical(self, spark, kept):
        """With broadcasting off no hint forces the blocklist join to
        broadcast: every join shuffles, and the kept rows are the same."""
        key = "spark.sql.autoBroadcastJoinThreshold"
        prev = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            out = _filtered(spark)
            shuffled = {r["doc_id"]: r for r in out.collect()}
            plan = out._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set(key, prev)
        assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan
        assert shuffled == kept

    def test_blocklist_semantics(self, kept):
        assert sorted(kept) == [2, 3, 4]
        # substring of a label is NOT a match; suffix of labels is
        assert kept[2]["host"] == "nottracker.com"
        assert kept[4]["n_soft_hits"] == 1

    def test_plan_broadcasts_blocklist(self, spark):
        df = spark.range(100).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("https://h"), F.col("id").cast("string"),
                     F.lit(".org/p")).alias("url"))
        blocked = spark.createDataFrame([("h7.org",)], "host string")
        out = url_blocklist_filter(df, blocked)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert out.count() == 99
