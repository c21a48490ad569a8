"""Rank-cursor BPE encoder: bit-identity with the sequential replace-chain
semantics, including the cases where shortcuts diverge."""
from __future__ import annotations

from ocr_system_spark.operators.bpe import bpe_encode, bpe_train
from tests.test_round4_bpe import _encoded as _collect, ref_encode


class TestRankedEncoderParity:
    def test_trained_merges_on_documents(self, spark):
        d = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
             .select("doc_id", "text"))
        merges = bpe_train(d, n_merges=8)
        assert _collect(bpe_encode(d, merges)) == \
            ref_encode([tuple(r) for r in d.collect()], merges)

    def test_reduplicated_corpus(self, spark):
        rows = [(i, t) for i, t in enumerate(
            ["abab abab ab", "aaaa aaa aa a", "xyxyxy xy",
             "abcabc abcabc", "b a ba ab bab aba"])]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        merges = bpe_train(d, n_merges=10)
        assert _collect(bpe_encode(d, merges)) == ref_encode(rows, merges)

    def test_cursor_never_revisits_passed_ranks(self, spark):
        """The case where 'repeatedly apply the min-rank present pair'
        (no cursor) would diverge from sequential semantics: merge 1's
        pair ('a','cd') only becomes PRESENT after merge 2 creates 'cd',
        by which time the sequential pass is beyond it. The encoder
        must yield 3 subwords (a, cd, EOW), not 2."""
        rows = [(0, "acd")]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        merges = [(1, "a", "cd", 1), (2, "c", "d", 1)]
        got = _collect(bpe_encode(d, merges))
        assert got == ref_encode(rows, merges) == [(0, 1, 3)]

    def test_duplicate_pair_ranks(self, spark):
        """A pair may hold several ranks (training can re-select a pair
        whose adjacency is re-created later). The rank-list + bisect
        path must apply the LATER rank after the cursor passes the
        first."""
        # word "cdcd": [c,d,c,d,EOW] -> r0 (c,d) both occurrences ->
        # [cd,cd,EOW] -> r1 (cd,cd) -> [cdcd,EOW] -> r2 (c,d) again:
        # not present -> stop. 2 subwords.
        rows = [(0, "cdcd cd")]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        merges = [(1, "c", "d", 9), (2, "cd", "cd", 5), (3, "c", "d", 1)]
        got = _collect(bpe_encode(d, merges))
        assert got == ref_encode(rows, merges) == [(0, 2, 4)]  # cdcd+EOW=2, cd+EOW=2

    def test_randomized_small_alphabet(self, spark):
        import random
        rng = random.Random(1234)
        rows = [(i, " ".join(
            "".join(rng.choice("ab") for _ in range(rng.randint(1, 8)))
            for _ in range(rng.randint(1, 12))))
            for i in range(120)]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        merges = bpe_train(d, n_merges=12)
        assert _collect(bpe_encode(d, merges)) == ref_encode(rows, merges)
