"""Linear quality-model scoring (operators/quality_model.py)."""
from __future__ import annotations

import hashlib

from pyspark.sql import Row

import pytest

from ocr_system_spark.operators.quality_model import (
    hashed_linear_score,
    host_quality_blocklist,
    linear_score,
)


def _stub_weight(term: str) -> int:
    """Python mirror of stub_weight_expr for exactness checks."""
    h = hashlib.md5(term.encode()).hexdigest()
    return int(h[:4], 16) % 2001 - 1000


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


class TestHashedLinearScore:
    def test_scores_match_python_mirror(self, spark):
        df = _docs(spark, [(0, "The quick brown fox"), (1, "fox fox FOX")])
        out = {r["id"]: r for r in hashed_linear_score(df).collect()}
        s0 = sum(_stub_weight(t) for t in ["the", "quick", "brown", "fox"])
        assert out[0]["score"] == s0 and out[0]["n_tokens"] == 4
        assert out[1]["score"] == 3 * _stub_weight("fox")
        assert out[1]["keep"] is (out[1]["score"] >= 0)

    def test_threshold(self, spark):
        df = _docs(spark, [(0, "a")])
        s = _stub_weight("a")
        r_lo = hashed_linear_score(df, threshold=s).collect()[0]
        r_hi = hashed_linear_score(df, threshold=s + 1).collect()[0]
        assert r_lo["keep"] is True and r_hi["keep"] is False

    def test_null_doc_absent_and_no_join(self, spark):
        df = _docs(spark, [(0, "x"), (1, None)])
        assert {r["id"] for r in hashed_linear_score(df).collect()} == {0}
        p = _plan(hashed_linear_score(df))
        assert "Join" not in p, p


class TestQualityTiers:
    def test_equal_count_tiers_deterministic(self, spark):
        from ocr_system_spark.operators.quality_model import quality_tiers
        scored = spark.createDataFrame(
            [(i, (i * 7) % 12) for i in range(12)], "id long, score long")
        out = {r["id"]: r["tier"]
               for r in quality_tiers(scored, n_tiers=4).collect()}
        # 12 rows -> 3 per tier; lowest scores in tier 1
        from collections import Counter
        assert Counter(out.values()) == {1: 3, 2: 3, 3: 3, 4: 3}
        by_score = sorted(range(12), key=lambda i: ((i * 7) % 12, i))
        assert [out[i] for i in by_score] == [1, 1, 1, 2, 2, 2, 3, 3, 3,
                                              4, 4, 4]
        # ties broken by id -> stable across reruns/partitionings
        out2 = {r["id"]: r["tier"]
                for r in quality_tiers(scored.repartition(5),
                                       n_tiers=4).collect()}
        assert out == out2

    def test_invalid_n_tiers(self, spark):
        from ocr_system_spark.operators.quality_model import quality_tiers
        import pytest as _pytest
        scored = spark.createDataFrame([(0, 1)], "id long, score long")
        with _pytest.raises(ValueError):
            quality_tiers(scored, n_tiers=0)


class TestQualityTiersBucketed:
    """quality_tiers_bucketed must be bit-identical to the ntile form on
    any input (ties included) while keeping the corpus assignment free of
    windows and exchanges."""

    def test_parity_with_ntile_under_ties(self, spark):
        from ocr_system_spark.operators.quality_model import (
            quality_tiers, quality_tiers_bucketed)
        import random
        rng = random.Random(11)
        # heavy ties: 101 rows over only 7 distinct scores, n % t != 0
        rows = [(i, rng.randint(-3, 3)) for i in range(101)]
        scored = spark.createDataFrame(rows, "id long, score long")
        for t in (2, 4, 5, 101, 150):     # includes t > n degenerates
            a = {r["id"]: r["tier"]
                 for r in quality_tiers(scored, n_tiers=t).collect()}
            b = {r["id"]: r["tier"]
                 for r in quality_tiers_bucketed(scored,
                                                 n_tiers=t).collect()}
            assert a == b, f"n_tiers={t}"

    def test_parity_with_string_ids(self, spark):
        from ocr_system_spark.operators.quality_model import (
            quality_tiers, quality_tiers_bucketed)
        rows = [(f"doc{i:03d}", (i * 7) % 4) for i in range(37)]
        scored = spark.createDataFrame(rows, "id string, score long")
        a = {r["id"]: r["tier"]
             for r in quality_tiers(scored, n_tiers=4).collect()}
        b = {r["id"]: r["tier"]
             for r in quality_tiers_bucketed(scored, n_tiers=4).collect()}
        assert a == b

    def test_assignment_plan_has_no_window_or_exchange(self, spark,
                                                       tmp_path):
        """The scale claim itself: the returned corpus-side plan is a pure
        map (scan + project) — no Window, no Exchange, in particular no
        single-partition Exchange anywhere."""
        from ocr_system_spark.operators.quality_model import (
            quality_tiers_bucketed)
        p = str(tmp_path / "scored")
        spark.createDataFrame([(i, i % 5) for i in range(64)],
                              "id long, score long") \
            .write.parquet(p)
        out = quality_tiers_bucketed(spark.read.parquet(p), n_tiers=4)
        plan = _plan(out)
        assert "Window" not in plan, plan
        assert "Exchange" not in plan, plan

    def test_empty_and_single_tier(self, spark):
        from ocr_system_spark.operators.quality_model import (
            quality_tiers_bucketed)
        empty = spark.createDataFrame([], "id long, score long")
        assert quality_tiers_bucketed(empty, n_tiers=4).count() == 0
        one = spark.createDataFrame([(1, 5), (2, 9)],
                                    "id long, score long")
        got = {r["id"]: r["tier"]
               for r in quality_tiers_bucketed(one, n_tiers=1).collect()}
        assert got == {1: 1, 2: 1}

    def test_invalid_n_tiers(self, spark):
        from ocr_system_spark.operators.quality_model import (
            quality_tiers_bucketed)
        import pytest as _pytest
        scored = spark.createDataFrame([(0, 1)], "id long, score long")
        with _pytest.raises(ValueError):
            quality_tiers_bucketed(scored, n_tiers=0)


class TestMixtureSample:
    def test_rates_and_determinism(self, spark):
        from ocr_system_spark.operators.sampling import mixture_sample
        df = spark.createDataFrame(
            [(i, 1 if i < 400 else 2) for i in range(800)],
            "doc_id long, tier int")
        kept = mixture_sample(df, "tier", {1: 0, 2: 16})
        rows = kept.groupBy("tier").count().collect()
        got = {r["tier"]: r["count"] for r in rows}
        assert got == {2: 400}          # rate 0 drops all, 16 keeps all
        # a mid rate keeps a deterministic md5-defined subset
        half = mixture_sample(df, "tier", {1: 8, 2: 8})
        ids1 = {r["doc_id"] for r in half.collect()}
        ids2 = {r["doc_id"]
                for r in mixture_sample(df.repartition(7), "tier",
                                        {1: 8, 2: 8}).collect()}
        assert ids1 == ids2 and 0 < len(ids1) < 800

    def test_default_rate_and_validation(self, spark):
        from ocr_system_spark.operators.sampling import mixture_sample
        import pytest as _pytest
        df = spark.createDataFrame([(1, 9)], "doc_id long, tier int")
        # group 9 absent from dict -> default 16 -> kept
        assert mixture_sample(df, "tier", {1: 4}).count() == 1
        assert mixture_sample(df, "tier", {1: 4},
                              default_sixteenths=0).count() == 0
        with _pytest.raises(ValueError):
            mixture_sample(df, "tier", {1: 17})

    def test_composes_with_split(self, spark):
        """The same md5 ticket drives split and mixing — a kept row's
        split never changes when mixing rates change."""
        from ocr_system_spark.operators.sampling import (mixture_sample,
                                                         with_split)
        df = spark.createDataFrame([(i, 1) for i in range(200)],
                                   "doc_id long, tier int")
        s = with_split(df, holdout_sixteenths=2)
        kept = mixture_sample(s, "tier", {1: 8})
        full = {r["doc_id"]: r["split"] for r in s.collect()}
        for r in kept.collect():
            assert full[r["doc_id"]] == r["split"]


class TestLinearScore:
    def test_table_weights_with_oov_default(self, spark):
        df = _docs(spark, [(0, "good good bad unknown")])
        w = spark.createDataFrame(
            [Row(term="good", weight=5), Row(term="bad", weight=-7)])
        r = linear_score(df, w).collect()[0]
        assert r["n_tokens"] == 4
        assert r["score"] == 2 * 5 - 7 + 0
        r2 = linear_score(df, w, default_weight=-100).collect()[0]
        assert r2["score"] == 2 * 5 - 7 - 100

    def test_shuffle_join_path_identical(self, spark):
        df = _docs(spark, [(0, "good good bad unknown")])
        w = spark.createDataFrame(
            [Row(term="good", weight=5), Row(term="bad", weight=-7)])
        bc = sorted(linear_score(df, w).collect())
        key = "spark.sql.autoBroadcastJoinThreshold"
        prev = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            shuffled = linear_score(df, w)
            assert "BroadcastHashJoin" not in _plan(shuffled)
            sh = sorted(shuffled.collect())
        finally:
            spark.conf.set(key, prev)
        assert bc == sh

    def test_broadcast_join_no_nested_loop(self, spark):
        df = _docs(spark, [(0, "a b")])
        w = spark.createDataFrame([Row(term="a", weight=1)])
        scored = linear_score(df, w)
        # unhinted: AQE picks the broadcast from the runtime size, so
        # read the plan it settled on after running the query
        scored.collect()
        p = _plan(scored)
        assert "BroadcastHashJoin" in p
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


class TestHostQualityBlocklist:
    def _scored(self, spark, rows):
        return spark.createDataFrame(rows, "host string, score long")

    def test_mean_threshold_cross_multiplied(self, spark):
        # mean(a) = -6 < -5 -> blocked; mean(b) = -5 exactly -> NOT
        # blocked (strict <); mean(c) = 3 -> clean
        rows = [("a", -4), ("a", -8), ("b", -5), ("b", -5), ("c", 3)]
        got = {r["host"]: (r["n_docs"], r["score_sum"], r["blocked"])
               for r in host_quality_blocklist(
                   self._scored(spark, rows), threshold_num=-5,
                   threshold_den=1).collect()}
        assert got == {"a": (2, -12, True), "b": (2, -10, False),
                       "c": (1, 3, False)}

    def test_fractional_threshold(self, spark):
        # threshold -7/2 = -3.5: mean -4 blocked, mean -3 clean — no
        # float ever computed
        rows = [("x", -4), ("y", -3)]
        got = {r["host"]: r["blocked"]
               for r in host_quality_blocklist(
                   self._scored(spark, rows), threshold_num=-7,
                   threshold_den=2).collect()}
        assert got == {"x": True, "y": False}

    def test_validation(self, spark):
        with pytest.raises(ValueError):
            host_quality_blocklist(self._scored(spark, [("a", 1)]),
                                   threshold_den=0)
