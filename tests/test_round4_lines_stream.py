"""Streaming hot-line maintenance loop (streaming/lines_hot.py)."""
from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_system_spark.plans import index_store
from ocr_system_spark.streaming import lines_hot

SCHEMA = T.StructType([T.StructField("doc_id", T.LongType(), False),
                       T.StructField("text", T.StringType(), True)])


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _counts(spark, store):
    idx, v = index_store.read_index(spark, store)
    return {r["line"]: r["n_docs"] for r in idx.collect()}, v


class TestProcessLinesBatch:
    def test_counts_accumulate_and_clean_uses_predecessor(self, spark,
                                                          tmp_path):
        store = str(tmp_path / "store")
        clean = str(tmp_path / "clean")
        # batch 0: "menu" in both docs -> hot after the batch, but batch 0
        # itself is cleaned against the EMPTY predecessor (nothing removed)
        b0 = _df(spark, [(1, "menu\nalpha"), (2, "menu\nbeta")])
        v = lines_hot.process_lines_batch(
            b0, 0, store, clean, base_version=0, min_docs=2,
            n_partitions=2)
        assert v == 1
        got, ver = _counts(spark, store)
        assert ver == 1 and got == {"menu": 2, "alpha": 1, "beta": 1}
        c0 = spark.read.parquet(os.path.join(clean, "batch=0"))
        assert all(r["n_removed"] == 0 for r in c0.collect())

        # batch 1: cleaned against version 1's hot set ("menu")
        b1 = _df(spark, [(3, "menu\ngamma")])
        v = lines_hot.process_lines_batch(
            b1, 1, store, clean, base_version=0, min_docs=2,
            n_partitions=2)
        assert v == 2
        got2, ver2 = _counts(spark, store)
        assert ver2 == 2
        assert got2 == {"menu": 3, "alpha": 1, "beta": 1, "gamma": 1}
        c1 = {r["id"]: r for r in
              spark.read.parquet(os.path.join(clean, "batch=1")).collect()}
        assert c1[3]["clean_text"] == "gamma" and c1[3]["n_removed"] == 1

    def test_replay_is_idempotent_even_after_publish(self, spark, tmp_path):
        """Replaying a batch must NOT double its counts: the merge reads
        the batch's own predecessor version, not 'latest'."""
        store = str(tmp_path / "store")
        clean = str(tmp_path / "clean")
        b0 = _df(spark, [(1, "menu\nalpha"), (2, "menu\nbeta")])
        lines_hot.process_lines_batch(b0, 0, store, clean, base_version=0,
                                      min_docs=2, n_partitions=2)
        b1 = _df(spark, [(3, "menu\ngamma")])
        lines_hot.process_lines_batch(b1, 1, store, clean, base_version=0,
                                      min_docs=2, n_partitions=2)
        before, _ = _counts(spark, store)
        # crash-replay of batch 1 AFTER its publish landed
        lines_hot.process_lines_batch(b1, 1, store, clean, base_version=0,
                                      min_docs=2, n_partitions=2)
        after, v = _counts(spark, store)
        assert v == 2 and after == before    # no double counting

    def test_current_hot_lines_view(self, spark, tmp_path):
        store = str(tmp_path / "store")
        clean = str(tmp_path / "clean")
        b0 = _df(spark, [(1, "menu\nx"), (2, "menu\ny"), (3, "menu\nz")])
        lines_hot.process_lines_batch(b0, 0, store, clean, base_version=0,
                                      min_docs=3, n_partitions=2)
        hot = {r["line"] for r in
               lines_hot.current_hot_lines(spark, store, 3).collect()}
        assert hot == {"menu"}


class TestHotLineStream:
    def test_two_microbatches_with_checkpoint_resume(self, spark, tmp_path):
        d = {k: str(tmp_path / k) for k in ["in", "clean", "ckpt"]}
        os.makedirs(d["in"])
        store = str(tmp_path / "store")

        pd.DataFrame({"doc_id": [1, 2],
                      "text": ["menu\nalpha", "menu\nbeta"]}) \
            .to_parquet(os.path.join(d["in"], "b0.parquet"), index=False)

        def run_stream():
            stream = (spark.readStream.schema(SCHEMA).format("parquet")
                      .option("path", d["in"])
                      .option("maxFilesPerTrigger", "1").load())
            q = lines_hot.start_hot_line_stream(
                stream, store, d["clean"], d["ckpt"], min_docs=2,
                n_partitions=2, base_version=0)
            q.awaitTermination(180)

        run_stream()
        got, v = _counts(spark, store)
        assert v == 1 and got["menu"] == 2

        pd.DataFrame({"doc_id": [3], "text": ["menu\ngamma"]}) \
            .to_parquet(os.path.join(d["in"], "b1.parquet"), index=False)
        run_stream()                     # checkpoint resumes at batch 1
        got2, v2 = _counts(spark, store)
        assert v2 == 2 and got2["menu"] == 3
        c1 = spark.read.parquet(os.path.join(d["clean"], "batch=1"))
        assert c1.collect()[0]["clean_text"] == "gamma"


class TestBaseVersionPinning:
    def test_default_base_is_pinned_and_survives_restart(self, spark,
                                                         tmp_path):
        """A restart of the same checkpoint must reuse the base the
        batch-id sequence started with, NOT re-derive it from the store's
        advanced latest (the silent count-discard path in round-4 ADVICE)."""
        d = {k: str(tmp_path / k) for k in ["in", "clean", "ckpt"]}
        os.makedirs(d["in"])
        store = str(tmp_path / "store")

        pd.DataFrame({"doc_id": [1, 2],
                      "text": ["menu\nalpha", "menu\nbeta"]}) \
            .to_parquet(os.path.join(d["in"], "b0.parquet"), index=False)

        def run_stream():
            stream = (spark.readStream.schema(SCHEMA).format("parquet")
                      .option("path", d["in"])
                      .option("maxFilesPerTrigger", "1").load())
            q = lines_hot.start_hot_line_stream(
                stream, store, d["clean"], d["ckpt"], min_docs=2,
                n_partitions=2)          # base_version=None: default path
            q.awaitTermination(180)

        run_stream()
        sidecar = os.path.join(d["ckpt"], index_store.BASE_VERSION_FILE)
        assert os.path.exists(sidecar)
        assert open(sidecar).read().strip() == "0"
        _, v = _counts(spark, store)
        assert v == 1                    # latest has ADVANCED past base

        # restart same checkpoint with default base: batch 1 must merge
        # against version 1 (= pinned 0 + batch 1), not latest + 1
        pd.DataFrame({"doc_id": [3], "text": ["menu\ngamma"]}) \
            .to_parquet(os.path.join(d["in"], "b1.parquet"), index=False)
        run_stream()
        got, v2 = _counts(spark, store)
        assert v2 == 2 and got["menu"] == 3     # counts accumulated

    def test_conflicting_explicit_base_raises(self, spark, tmp_path):
        import pytest
        ckpt = str(tmp_path / "ckpt")
        store = str(tmp_path / "store")
        assert index_store.load_or_pin_base_version(ckpt, store, None) == 0
        with pytest.raises(ValueError, match="conflicts"):
            index_store.load_or_pin_base_version(ckpt, store, 7)
        # matching explicit value is fine
        assert index_store.load_or_pin_base_version(ckpt, store, 0) == 0

    def test_missing_noninitial_predecessor_fails_fast(self, spark,
                                                       tmp_path):
        """A hole in the version chain is corruption, not an empty
        predecessor — merging against None would discard all counts."""
        import pytest
        store = str(tmp_path / "store")
        clean = str(tmp_path / "clean")
        b = _df(spark, [(1, "menu\nalpha")])
        with pytest.raises(FileNotFoundError, match="missing version"):
            lines_hot.process_lines_batch(
                b, 3, store, clean, base_version=0, min_docs=2,
                n_partitions=2)


class TestEdgeCases:
    def test_empty_microbatch_publishes_identical_counts(self, spark,
                                                         tmp_path):
        store = str(tmp_path / "store")
        clean = str(tmp_path / "clean")
        b0 = spark.createDataFrame([(1, "menu\nalpha"), (2, "menu\nbeta")],
                                   "doc_id long, text string")
        lines_hot.process_lines_batch(b0, 0, store, clean, base_version=0,
                                      min_docs=2, n_partitions=2)
        before, _ = _counts(spark, store)
        empty = spark.createDataFrame([], "doc_id long, text string")
        v = lines_hot.process_lines_batch(empty, 1, store, clean,
                                          base_version=0, min_docs=2,
                                          n_partitions=2)
        after, ver = _counts(spark, store)
        assert v == ver == 2 and after == before

    def test_empty_snapshots_crawl_diff(self, spark):
        from ocr_system_spark.operators.snapshots import crawl_diff
        e = spark.createDataFrame([], "url string, fp string")
        assert crawl_diff(e, e).count() == 0
        one = spark.createDataFrame([("a", "1")], "url string, fp string")
        got = {r["url"]: r["status"] for r in crawl_diff(e, one).collect()}
        assert got == {"a": "added"}
        got2 = {r["url"]: r["status"] for r in crawl_diff(one, e).collect()}
        assert got2 == {"a": "gone"}
