"""Round-5 fixes: band-replay oracles for incremental MinHash dedup.

The round-3/4 oracles stated EXACT all-pairs Jaccard >= 0.7 while the
operator is 16-band LSH + exact verify, so the hash match relied on LSH
recall (fine at the planted J ~ 0.96, ~1.2% miss at the 0.70 margin).
The word hash is now md5_number_lower (DuckDB's own primitive), so the
oracle replays the FULL chain — word hash, position-weighted mix, 64
affine permutations, band buckets — and a pair the LSH misses is missed
IDENTICALLY by both engines.  These tests pin that on an adversarial
corpus with marginal-Jaccard (0.70-0.85) pairs, including pairs found by
offline search to miss ALL 16 bands."""
from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry
from ocr_system_spark.operators.dedup import (
    MERSENNE31,
    _hashed_shingles_one,
    _minhash_params,
)

# 6-7-word docs: dropping the first word (what the dedup_incremental
# query does for doc_id % 5 == 0) leaves a tail at Jaccard 3/4 or 4/5 —
# inside the marginal band.  These four were found by deterministic
# search to share ZERO of the 16 LSH bands with their tail variant while
# still being true >= 0.7 pairs: exactly the recall hole the old oracle
# papered over.
MISS_DOCS = [
    "w1912 w3527 w4671 w3809 w2407 w34 w1437",      # J = 4/5
    "w1236 w4581 w1938 w1345 w2721 w3483",          # J = 3/4
    "w4305 w2343 w664 w1451 w34 w4576",             # J = 3/4
    "w2272 w4283 w951 w4951 w2467 w3829",           # J = 3/4
]
# long docs: tail Jaccard 17/18 ~ 0.94 — far above the band-miss regime,
# must be caught by both engines
HIT_DOCS = [
    " ".join(f"a{i}_{k}" for k in range(20)) for i in range(2)
]


def _sig_bands(words):
    params = _minhash_params()
    a = np.array([x for x, _ in params], dtype=np.int64)[None, :]
    b = np.array([x for _, x in params], dtype=np.int64)[None, :]
    arr = _hashed_shingles_one(words, 3, {})
    sig = (((arr % MERSENNE31)[:, None] * a + b) % MERSENNE31).min(axis=0)
    return [tuple(sig[4 * j:4 * j + 4]) for j in range(16)], set(arr.tolist())


@pytest.fixture(scope="module")
def adversarial_sf(tmp_path_factory):
    """A tiny sf_dir whose documents table plants marginal-Jaccard
    batch pairs (doc_id % 5 == 0 docs get a first-word-dropped copy)."""
    sf = tmp_path_factory.mktemp("sf_marginal")
    rows = []
    for i, t in enumerate(MISS_DOCS):
        rows.append((i * 5, t))                    # ids 0,5,10,15
    for i, t in enumerate(HIT_DOCS):
        rows.append((20 + i * 5, t))               # ids 20,25
    rows += [(1, "filler one two three four"),
             (2, "other filler words here too"),
             (3, "short")]                         # <3 words: no shingles
    pd.DataFrame(rows, columns=["doc_id", "text"]) \
        .to_parquet(sf / "documents.parquet", index=False)
    return str(sf)


def _duck(sf, sql):
    con = duckdb.connect()
    con.execute(f"""CREATE VIEW documents AS
                    SELECT * FROM read_parquet('{sf}/documents.parquet')""")
    return con.execute(sql).fetchall()


class TestMarginalPairsAreDeterministic:
    def test_planted_pairs_really_miss_all_bands(self):
        for t in MISS_DOCS:
            w = t.split()
            b_full, s_full = _sig_bands(w)
            b_tail, s_tail = _sig_bands(w[1:])
            inter = len(s_full & s_tail)
            uni = len(s_full | s_tail)
            assert 100 * inter >= 70 * uni          # a TRUE pair...
            assert inter / uni <= 0.85              # ...in the margin...
            assert all(x != y for x, y in zip(b_full, b_tail))  # ...missed

    def test_spark_and_oracle_agree_on_marginal_corpus(self, spark,
                                                       adversarial_sf):
        got = sorted(
            (r["index_id"], r["batch_id"], r["inter"], r["uni"])
            for r in entry.queries()["dedup_incremental"](
                spark, adversarial_sf).collect())
        want = sorted((a, b, int(i), int(u)) for a, b, i, u in _duck(
            adversarial_sf, entry.oracle_sql()["dedup_incremental"]))
        assert got == want
        # both engines caught the high-J pairs
        caught = {a for a, _, _, _ in got}
        assert {20, 25} <= caught
        # and both engines MISSED the planted all-band-miss pairs — the
        # behavior the old exact-Jaccard oracle could not express
        assert caught.isdisjoint({0, 5, 10, 15})

    def test_index_update_agrees_on_marginal_corpus(self, spark,
                                                    adversarial_sf):
        got = sorted(r["id"] for r in entry.queries()["dedup_index_update"](
            spark, adversarial_sf).collect())
        want = sorted(x for (x,) in _duck(
            adversarial_sf, entry.oracle_sql()["dedup_index_update"]))
        assert got == want
        # the missed marginal batch docs SURVIVE into the next index
        # version in both engines (ids 0,5,10,15 shifted by +100000)
        assert {100000, 100005, 100010, 100015} <= set(got)
        # the caught near-dup batch copies do not
        assert {100020, 100025}.isdisjoint(set(got))


class TestFuzzyDedupE2E:
    """The fuzzy_dedup_e2e composition: LSH pairs → components →
    keep-best. Semantic pins beyond the driver oracle hash-match."""

    SF = "/root/testdata/sf0.001"

    @pytest.fixture(scope="class")
    def kept(self, spark):
        rows = entry.queries()["fuzzy_dedup_e2e"](spark, self.SF).collect()
        return {r["doc_id"]: (r["comp"], r["ws_tokens"]) for r in rows}

    def test_one_winner_per_component_and_copies_win(self, kept):
        # exactly one row per component
        comps = [c for c, _ in kept.values()]
        assert len(comps) == len(set(comps))
        # components that merged an original with its appended copy must
        # keep the COPY (two more tokens, higher id) — the policy that
        # distinguishes keep_best from min-id keep-one
        merged = [d for d in kept if d >= 100000 and (d - 100000) not in kept]
        assert len(merged) > 0
        for d in merged:
            comp, _ = kept[d]
            # the component label is the min reachable id — an ORIGINAL
            # (clusters may hold several genuinely-similar originals, so
            # it need not be this copy's own original)
            assert comp < 100000
            assert comp <= d - 100000

    def test_kept_set_differs_from_min_id_keep_one(self, kept):
        # min-id keep-one would keep comp == doc_id for every row;
        # keep-best provably deviates on every merged cluster
        assert any(c != d for d, (c, _) in kept.items())
