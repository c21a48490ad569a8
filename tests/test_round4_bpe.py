"""BPE merge training / encoding (operators/bpe.py): parity with the
classic algorithm, determinism, and edge cases."""
from __future__ import annotations

import collections
import re

import pytest

from ocr_system_spark.functions.tokens import (
    ASCII_LOWER, ASCII_UPPER, TOKEN_CLASS)
from ocr_system_spark.operators.bpe import (
    EOW,
    SEP,
    bpe_encode,
    bpe_train,
    word_vocabulary,
)


def ref_bpe(words: list[str], n: int):
    """Reference implementation of classic word-type-weighted BPE with the
    engine's deterministic argmax (count DESC, lhs ASC, rhs ASC)."""
    vocab = collections.Counter(
        tuple(w) + (EOW,) for w in words)
    merges = []
    for step in range(1, n + 1):
        pairs = collections.Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        bc = max(pairs.values())
        lhs, rhs = sorted(p for p, c in pairs.items() if c == bc)[0]
        merges.append((step, lhs, rhs, pairs[(lhs, rhs)]))
        new = collections.Counter()
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] += c
        vocab = new
    return merges


def ref_encode(rows, merges):
    """Reference encoder: the SQL oracle's sequential ``str.replace`` chain
    over the double-separator layout.  Sorted (id, n_tokens, n_subwords);
    documents without a token are absent."""
    trans = str.maketrans(ASCII_UPPER, ASCII_LOWER)
    out = []
    for doc_id, text in rows:
        words = [w for w in re.findall(TOKEN_CLASS,
                                       (text or "").translate(trans))
                 if SEP not in w and EOW not in w]
        n_sub = 0
        for w in words:
            s = SEP + (SEP + SEP).join(list(w) + [EOW]) + SEP
            for _, l, r, _ in merges:
                s = s.replace(SEP + l + SEP + SEP + r + SEP, SEP + l + r + SEP)
            n_sub += s.count(SEP) // 2
        if words:
            out.append((doc_id, len(words), n_sub))
    return sorted(out)


def _encoded(df):
    return sorted((r["id"], r["n_tokens"], r["n_subwords"])
                  for r in df.collect())


CORPUS = [
    (0, "low low low lower lower newest newest newest newest widest"),
    (1, "widest widest newest newest"),
]


def _df(spark, rows=CORPUS):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestBpeTrain:
    def test_matches_classic_algorithm(self, spark):
        words = " ".join(t for _, t in CORPUS).split()
        assert bpe_train(_df(spark), 6) == ref_bpe(words, 6)

    def test_partitioning_invariant(self, spark):
        df = _df(spark)
        assert bpe_train(df.repartition(7), 4) == bpe_train(df.coalesce(1), 4)

    def test_deterministic_tie_break(self, spark):
        # "ab" and "cd" both appear twice: pairs (a,b,2) (b,EOW,2)
        # (c,d,2) (d,EOW,2) all tie — (a,b) wins on lhs ASC
        df = _df(spark, [(0, "ab ab cd cd")])
        m = bpe_train(df, 1)
        assert m[0][1:3] == ("a", "b")

    def test_case_folding_and_exhaustion(self, spark):
        # single repeated word: merges exhaust once the word is one symbol.
        # (h,a) and (a,EOW) tie at 3 — lhs ASC picks (a,EOW) first.
        df = _df(spark, [(0, "Ha ha HA")])
        m = bpe_train(df, 10)
        assert [(l, r) for _, l, r, _ in m] == [("a", EOW), ("h", "a" + EOW)]
        words = ["ha", "ha", "ha"]
        assert m == ref_bpe(words, 10)

    def test_invalid_n_merges_raises(self, spark):
        with pytest.raises(ValueError):
            bpe_train(_df(spark), 0)

    def test_train_df_schema(self, spark, tmp_path):
        import pandas as pd
        import __spark_entry__ as entry
        pd.DataFrame(CORPUS, columns=["doc_id", "text"]) \
            .to_parquet(tmp_path / "documents.parquet", index=False)
        words = " ".join(t for _, t in CORPUS).split()
        for name in ("bpe_train", "bpe_train_batched", "bpe_train_local"):
            out = entry.queries()[name](spark, str(tmp_path))
            assert out.columns == ["merge_id", "lhs", "rhs", "pair_count"]
            assert [tuple(r) for r in out.collect()] == ref_bpe(words, 8)


class TestBpeEncode:
    def test_subword_counts(self, spark):
        df = _df(spark)
        m = bpe_train(df, 6)
        out = {r["id"]: r for r in bpe_encode(df, m).collect()}
        # after 6 merges: newest -> [newest+EOW] (1), widest -> w,i,d,est+EOW
        # (4), low -> l,o,w,EOW (4), lower -> l,o,w,e,r,EOW (6)
        assert out[0]["n_tokens"] == 10
        assert out[0]["n_subwords"] == 3 * 4 + 2 * 6 + 4 * 1 + 1 * 4
        assert out[1]["n_tokens"] == 4
        assert out[1]["n_subwords"] == 2 * 4 + 2 * 1
        assert _encoded(bpe_encode(df, m)) == ref_encode(CORPUS, m)

    def test_no_merges_counts_chars_plus_eow(self, spark):
        df = _df(spark, [(0, "ab c")])
        out = bpe_encode(df, []).collect()[0]
        assert out["n_tokens"] == 2 and out["n_subwords"] == 3 + 2

    def test_matches_replace_chain_on_mixed_corpus(self, spark):
        rows = [
            (0, "low lower newest widest the quick brown fox"),
            (1, "é中 ünïcôdé mixed ASCII and Ünï"),
            (2, "aaa aa a aaaa"),
            (3, None),
            (4, "repeated repeated repeated word word"),
            (5, "x"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        m = bpe_train(df, 8)
        assert _encoded(bpe_encode(df, m)) == ref_encode(rows, m)

    def test_null_text_doc_absent(self, spark):
        df = spark.createDataFrame([(0, "x"), (1, None)],
                                   "doc_id long, text string")
        assert {r["id"] for r in bpe_encode(df, []).collect()} == {0}


class TestReduplicationMerges:
    """The single-separator replace layout under-merged consecutive pair
    occurrences (a match consumed the boundary separator of the next one):
    'abab' became [ab, a, b] instead of [ab, ab].  The double-separator
    layout fixes it; these tests pin classic behavior on exactly those
    corpora."""

    def test_abab_and_runs_match_classic(self, spark):
        rows = [(0, "abab abab bobo bobo aaaa aaaa aaaaa murmur")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        words = rows[0][1].split()
        for n in (1, 2, 4, 6):
            assert bpe_train(df, n) == ref_bpe(words, n), n

    def test_single_pass_merge_property(self):
        """Separator-string replace == the classic leftmost-disjoint
        one-pass merge, over randomized symbol runs (pure Python — the
        same str.replace semantics the JVM and SQL engines share)."""
        import random
        SEP = "\x1f"

        def classic(syms, l, r):
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            return out

        rng = random.Random(7)
        for _ in range(5000):
            n = rng.randint(1, 8)
            syms = [rng.choice("ab") * rng.randint(1, 2) for _ in range(n)]
            l, r = rng.choice("ab"), rng.choice(["a", "b", "aa", "ab"])
            s = SEP + (SEP + SEP).join(syms) + SEP
            got = s.replace(SEP + l + SEP + SEP + r + SEP,
                            SEP + l + r + SEP)
            import re as _re
            parts = _re.split("\x1f+", got)[1:-1]
            assert parts == classic(syms, l, r), (syms, l, r)


class TestBatchedEncoderParity:
    def test_empty_merge_table(self, spark):
        df = spark.createDataFrame([(0, "ab c")], "doc_id long, text string")
        assert _encoded(bpe_encode(df, [])) == ref_encode([(0, "ab c")], [])


class TestBatchedTrainerParity:
    """The hard cases for merging several pairs per round — symbol
    collisions, all-tie counts, reduplication, early exhaustion.
    ``bpe_train``, which also serves the ``bpe_train_batched`` query,
    must be BIT-IDENTICAL to the sequential reference on each."""

    def test_identical_on_pinned_corpus(self, spark):
        df = _df(spark)
        words = " ".join(t for _, t in CORPUS).split()
        for nm in (1, 4, 8):
            assert bpe_train(df, nm) == ref_bpe(words, nm), nm

    def test_identical_under_heavy_ties(self, spark):
        text = "ab ab cd cd ef ef gh gh"
        assert bpe_train(_df(spark, [(0, text)]), 8) == \
            ref_bpe(text.split(), 8)

    def test_identical_on_reduplication_corpus(self, spark):
        text = "abab abab bobo bobo aaaa aaaa aaaaa murmur"
        df = _df(spark, [(0, text)])
        for nm in (2, 8):
            assert bpe_train(df, nm) == ref_bpe(text.split(), nm), nm

    def test_identical_on_random_corpora(self, spark):
        """Randomized property: small alphabets force symbol collisions
        and conflicting top pairs."""
        import random
        rng = random.Random(23)
        for trial in range(3):
            n_words = rng.randint(5, 30)
            alpha = "abc" if trial % 2 == 0 else "abcde"
            words = ["".join(rng.choice(alpha)
                             for _ in range(rng.randint(1, 6)))
                     for _ in range(n_words)]
            df = _df(spark, [(0, " ".join(words))])
            nm = rng.randint(2, 6)
            assert bpe_train(df, nm) == ref_bpe(words, nm), \
                (trial, words, nm)

    def test_exhaustion_stops_early(self, spark):
        df = _df(spark, [(0, "ha ha ha")])
        got = bpe_train(df, 50)
        assert got == ref_bpe(["ha", "ha", "ha"], 50)
        assert len(got) == 2    # a+EOW, then h+aEOW: fully merged

    def test_invalid_args(self, spark):
        for nm in (0, -1):
            with pytest.raises(ValueError):
                bpe_train(_df(spark), nm)


class TestEowMarkerNotForgeable:
    """The end-of-word marker is U+001E, which is stripped from terms —
    so no sequence of merges over real token characters can ever create
    a symbol equal to the marker.  A printable marker like '</w>' IS
    constructible from an HTML-ish corpus ('<'+'/'+'w'+'>'), silently
    conflating content with word boundaries (round-4 ADVICE)."""

    def test_literal_angle_w_token_stays_content(self, spark):
        # the literal token '</w>' merges into a single SYMBOL whose
        # string is '</w>' — but the EOW marker is \x1e, so pair counts
        # keep boundary and content distinct
        df = _df(spark, [(0, "</w> </w> </w> </w>")])
        m = bpe_train(df, 3)
        # merges build up the content token; the EOW marker appears only
        # as a rhs symbol, never as a content fragment
        syms = {l for _, l, _, _ in m} | {r for _, _, r, _ in m}
        assert EOW == "\x1e"
        assert all("\x1e" not in x or x == "\x1e" or x.endswith("\x1e")
                   for x in syms)
        # and the classic reference agrees on this corpus
        assert m == ref_bpe(["</w>"] * 4, 3)

    def test_terms_containing_controls_dropped(self, spark):
        df = _df(spark, [(0, "ok ok bad\x1ebad bad\x1fbad")])
        got = {r["term"] for r in word_vocabulary(df).collect()}
        assert got == {"ok"}


class TestLocalTrainerParity:
    """bpe_train (collect the bounded vocabulary, classic incremental-
    update BPE on the driver) must be BIT-IDENTICAL to the from-scratch
    reference ``ref_bpe`` — it is the production 32k-merge path, so the
    parity matters most here."""

    def test_identical_on_pinned_corpus(self, spark):
        df = _df(spark)
        words = " ".join(t for _, t in CORPUS).split()
        for nm in (1, 6, 20):
            assert bpe_train(df, nm) == ref_bpe(words, nm), nm

    def test_identical_under_ties_and_reduplication(self, spark):
        for text in ("ab ab cd cd ef ef gh gh",
                     "abab abab bobo bobo aaaa aaaa aaaaa murmur",
                     "Ha ha HA"):
            df = _df(spark, [(0, text)])
            assert bpe_train(df, 12) == ref_bpe(text.lower().split(), 12), \
                text

    def test_identical_on_random_small_alphabet(self, spark):
        """Small alphabets maximize symbol collisions and count churn —
        the hard case for the incremental pair-count updates."""
        import random
        rng = random.Random(31)
        for trial in range(3):
            words = ["".join(rng.choice("abc")
                             for _ in range(rng.randint(1, 7)))
                     for _ in range(rng.randint(8, 40))]
            df = _df(spark, [(0, " ".join(words))])
            nm = rng.randint(3, 12)
            assert bpe_train(df, nm) == ref_bpe(words, nm), \
                (trial, words, nm)

    def test_pure_python_core_matches_ref_on_volume(self):
        """Driver-side core vs the from-scratch reference at a few
        hundred merges — no Spark in the loop, so this can go deep."""
        import random
        from ocr_system_spark.operators.bpe import _bpe_train_from_vocab
        rng = random.Random(99)
        words = ["".join(rng.choice("abcdefgh")
                         for _ in range(rng.randint(1, 9)))
                 for _ in range(3000)]
        import collections as _c
        vocab = sorted(_c.Counter(words).items())
        got = _bpe_train_from_vocab(vocab, 300)
        want = ref_bpe(words, 300)
        assert got == want

    def test_max_types_guard(self, spark):
        df = _df(spark, [(0, "one two three")])
        with pytest.raises(ValueError, match="max_types"):
            bpe_train(df, 2, max_types=2)
        assert bpe_train(df, 2, max_types=3) == \
            ref_bpe(["one", "two", "three"], 2)


class TestOracleExhaustionGraceful:
    def test_bpe_encode_oracle_survives_early_vocab_exhaustion(self, spark,
                                                               tmp_path):
        """Round-4 ADVICE: on a corpus whose vocabulary exhausts before
        the 8 oracle merge steps, the oracle's scalar subqueries go NULL
        and (pre-fix) replace(seq, NULL, NULL) nulled every encoded
        sequence — NULL n_subwords while Spark returned real counts.
        The coalesce-wrapped pattern degrades exhausted steps to identity
        replaces; both engines must agree on such a corpus."""
        import duckdb
        import pandas as pd
        import __spark_entry__ as entry

        sf = tmp_path / "sf"
        sf.mkdir()
        # 'ha' exhausts after 2 merges: a+EOW, h+aEOW
        pd.DataFrame({"doc_id": [0, 1], "text": ["ha ha", "ha"]}) \
            .to_parquet(sf / "documents.parquet", index=False)

        spark_rows = sorted(
            (r["id"], r["n_tokens"], r["n_subwords"])
            for r in entry.queries()["bpe_encode"](spark, str(sf)).collect())

        con = duckdb.connect()
        con.execute(f"""CREATE VIEW documents AS
                        SELECT * FROM read_parquet('{sf}/documents.parquet')""")
        sql_rows = sorted(tuple(t) for t in con.execute(
            entry.oracle_sql()["bpe_encode"]).fetchall())
        assert spark_rows == sql_rows
        assert all(ns is not None for _, _, ns in sql_rows)
        # fully merged: every word is ONE symbol
        assert spark_rows == [(0, 2, 2), (1, 1, 1)]


class TestWordVocabulary:
    def test_lowercased_counts(self, spark):
        df = _df(spark, [(0, "The the THE cat")])
        got = {r["term"]: r["cnt"] for r in word_vocabulary(df).collect()}
        assert got == {"the": 3, "cat": 1}
