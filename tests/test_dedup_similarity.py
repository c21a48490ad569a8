"""Dedup + similarity operators: planted near-duplicates must be found;
approximate methods are measured against their exact baselines."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ocr_system_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return d.select("doc_id", "text", "lang").cache()


def test_exact_dedup_keeps_one_per_content(spark, docs):
    dup = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text", "lang")
    both = docs.union(dup)
    kept = dedup.exact_dedup(both, "doc_id")
    n = docs.count()
    assert kept.count() == n
    # min-id wins: all survivors are the originals
    assert kept.filter(F.col("doc_id") >= 100000).count() == 0


def test_ngram_jaccard_finds_planted_near_dups(spark, docs):
    both = dedup.with_near_dup_copies(docs, "doc_id")
    pairs = dedup.ngram_jaccard_pairs(both, "doc_id", block_col="lang",
                                      min_jaccard_pct=50).toPandas()
    n = docs.count()
    planted = set(zip(range(n), range(100000, 100000 + n)))
    found = set(zip(pairs["id_a"], pairs["id_b"]))
    # every planted (orig, perturbed) pair must be found exactly
    missing = {(a, b) for a, b in planted if (a, b) not in found}
    assert not missing, f"missing planted pairs: {sorted(missing)[:5]}"
    # jaccard sanity: planted pairs are high-overlap
    planted_rows = pairs[pairs["id_b"] == pairs["id_a"] + 100000]
    assert (planted_rows["inter"] * 100 >= planted_rows["uni"] * 50).all()


def test_minhash_lsh_matches_exact_at_threshold(spark, docs):
    both = dedup.with_near_dup_copies(docs, "doc_id")
    lsh = dedup.minhash_lsh_pairs(both, "doc_id", min_jaccard_pct=70).toPandas()
    exact = dedup.ngram_jaccard_pairs(both, "doc_id", min_jaccard_pct=70).toPandas()
    lsh_set = set(zip(lsh["id_a"], lsh["id_b"]))
    exact_set = set(zip(exact["id_a"], exact["id_b"]))
    # verification makes LSH ⊆ exact; recall on this corpus must be total
    assert lsh_set == exact_set


def test_simhash_near_dup_recall(spark, docs):
    both = dedup.with_near_dup_copies(docs, "doc_id")
    pairs = dedup.simhash_pairs(both, "doc_id", max_hamming=8).toPandas()
    n = docs.count()
    found = set(zip(pairs["id_a"], pairs["id_b"]))
    planted_found = sum(1 for i in range(n) if (i, i + 100000) in found)
    # SimHash is approximate: dropping one word of ~40 must keep most
    # signatures within Hamming 8
    assert planted_found >= 0.8 * n, f"recall {planted_found}/{n}"
    # consistency: every reported pair honors the verified Hamming bound.
    # (No spurious-pair bound here: the synthetic word-soup corpus draws all
    # docs from a ~30-word vocabulary, so unrelated docs genuinely land
    # within small Hamming distance of each other — correct SimHash
    # behavior on near-identical bags of words.)
    assert (pairs["hamming"] <= 8).all()
    assert (pairs["id_a"] < pairs["id_b"]).all()


def test_simhash_deterministic(spark, docs):
    a = dedup.with_simhash(docs).select("doc_id", "simhash").toPandas()
    b = dedup.with_simhash(docs).select("doc_id", "simhash").toPandas()
    pd.testing.assert_frame_equal(a.sort_values("doc_id").reset_index(drop=True),
                                  b.sort_values("doc_id").reset_index(drop=True))


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()


def test_lsh_topk_recall_vs_brute_force(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20)
    brute = similarity.brute_force_topk(emb, queries, k=5).toPandas()
    approx = similarity.lsh_topk(emb, queries, k=5).toPandas()
    bset = set(zip(brute["query_id"], brute["neighbor_id"]))
    aset = set(zip(approx["query_id"], approx["neighbor_id"]))
    recall = len(bset & aset) / len(bset)
    # multi-table union: random 64-dim data is the WORST case for SRP
    # (top neighbors sit at cosine ~0.4, i.e. near-orthogonal); 6 tables ×
    # 4 planes must still recover half the true top-5 — deterministic for
    # the fixed seed, so this is a regression pin, not a flaky bound
    assert recall >= 0.5, f"recall {recall:.2f}"
    assert len(aset) > 0


def test_lsh_topk_near_dup_recall_is_total(spark, emb):
    """The operator's actual production shape: find the planted near-dup
    (cosine ≈ 1). LSH recall at high similarity must be ~perfect."""
    e = emb.select("vec_id", "embedding")
    scaled = e.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.01)).alias("embedding"))
    corpus = e.union(scaled)
    approx = similarity.lsh_topk(corpus, corpus.filter(F.col("vec_id") >= 100000),
                                 k=1).toPandas()
    hits = sum(1 for _, r in approx.iterrows()
               if r["neighbor_id"] == r["query_id"] - 100000 and r["rank"] == 1)
    assert hits == 20, approx


def test_ivf_topk_recall_and_near_dups(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20)
    brute = similarity.brute_force_topk(emb, queries, k=5).toPandas()
    ivf = similarity.ivf_topk(emb, queries, k=5, n_centroids=16, n_probe=4).toPandas()
    bset = set(zip(brute["query_id"], brute["neighbor_id"]))
    iset = set(zip(ivf["query_id"], ivf["neighbor_id"]))
    recall = len(bset & iset) / len(bset)
    # scanning ~n_probe/n_centroids = 25% of the corpus must beat chance
    # clearly; deterministic for fixed data/centroids (regression pin)
    assert recall >= 0.4, f"recall {recall:.2f}"
    # near-dup case: the planted scaled copy shares its cell ⇒ rank 1
    e = emb.select("vec_id", "embedding")
    scaled = e.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.01)).alias("embedding"))
    corpus = e.union(scaled)
    out = similarity.ivf_topk(corpus, corpus.filter(F.col("vec_id") >= 100000),
                              k=1).toPandas()
    hits = sum(1 for _, r in out.iterrows()
               if r["neighbor_id"] == r["query_id"] - 100000 and r["rank"] == 1)
    assert hits == 10


def test_cosine_dup_pairs_finds_scaled_copies(spark, emb):
    e = emb.select("vec_id", "embedding")
    scaled = e.select((F.col("vec_id") + 100000).alias("vec_id"),
                      F.transform("embedding", lambda x: x * F.lit(1.01)).alias("embedding"))
    pairs = similarity.cosine_dup_pairs_lsh(e.union(scaled), 0.95).toPandas()
    n = e.count()
    found = set(zip(pairs["id_a"], pairs["id_b"]))
    assert all((i, i + 100000) in found for i in range(n))
    assert len(found) == n  # nothing spurious at 0.95 on this corpus


def test_srp_bucket_null_element_is_null_nan_element_is_all_ones(spark):
    """A NULL vector element makes the JVM dot NULL, so the vector has no
    bucket, as a NULL vector or one of the wrong length has none; a NaN
    element makes every dot NaN, which compares > 0 (Spark's
    NaN-is-largest rule), so every plane bit is set."""
    pad = [2.0] * (similarity.SRP_DIM - 2)
    rows = [(0, [1.0, None] + pad),
            (1, [1.0, float("nan")] + pad),
            (2, None),
            (3, [1.0, 2.0, 3.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sorted((r.vec_id, r.b) for r in similarity._srp_bucket_rows(
        df, "embedding", "b", n_tables=2, n_planes=3).collect())
    assert got == [(1, 0b111), (1, (1 << 3) + 0b111)]


def test_brute_force_scored_volume_is_partial_topk(spark, emb):
    """The pre-window scored relation must carry ≈ batches·k·nq rows, not
    corpus×queries: this is the difference between a top-5 answer shuffling
    2×10^13 rows and shuffling a few thousand at 10^12-doc scale."""
    queries = emb.filter(F.col("vec_id") < 20)
    n, nq, k = emb.count(), 20, 5
    scored = similarity.brute_force_scored(emb, queries, k=k)
    rows = scored.count()
    # full cross product would be ~n*nq; partial top-k must be far below
    assert rows < n * nq / 10, (rows, n * nq)
    # and the final answer is unchanged vs the exact oracle ordering
    top = similarity.brute_force_topk(emb, queries, k=k)
    assert top.count() == nq * k


def test_partial_topk_keeps_boundary_ties(spark):
    """Score ties at the k-th position must ALL survive the per-batch cut,
    otherwise the global (score desc, id asc) winner could be dropped."""
    import numpy as np
    ids = np.arange(10, dtype=np.int64) + 100
    q_ids = np.array([1], dtype=np.int64)
    scores = np.array([[5.], [4.], [4.], [4.], [4.], [3.], [2.], [1.], [0.], [-1.]])
    out = similarity._partial_topk_frame(ids, q_ids, scores, k=3)
    # top-3 by score, but the 4-way tie at the boundary is fully kept
    assert set(out["neighbor_id"].to_pylist()) == {100, 101, 102, 103, 104}


def test_triangle_salting_loses_no_pairs(spark):
    """A planted hot bucket (one viral cluster, every doc in the same band
    bucket) must yield exactly C(G,2) pairs even when split into chunks."""
    from itertools import combinations
    g = 40
    rows = [(i, 0, 12345) for i in range(g)]
    exploded = spark.createDataFrame(rows, "id long, band int, bhash long")
    got = {(r.id_a, r.id_b)
           for r in dedup._salted_band_candidates(exploded, salt_cap=7).collect()}
    exp = set(combinations(range(g), 2))
    assert got == exp

    # and the per-task group is bounded: no (pi, pj) chunk-pair sees more
    # than ~2*cap rows per side (chunk size ≈ G/m ≤ cap + hash skew)
    big = exploded.groupBy("band", "bhash").agg(F.count(F.lit(1)).alias("gsz")) \
        .filter(F.col("gsz") > 7)
    ex = (exploded.join(F.broadcast(big), ["band", "bhash"], "left")
          .withColumn("m", F.coalesce(F.ceil(F.col("gsz") / 7), F.lit(1)).cast("int"))
          .withColumn("chunk", F.pmod(F.xxhash64("id"), F.col("m")).cast("int")))
    sizes = ex.groupBy("chunk").count().toPandas()["count"]
    assert sizes.max() <= 2 * 7, sizes.tolist()


def test_minhash_lsh_salted_matches_unsalted(spark, docs):
    """Forcing the salt on real data (tiny cap) must not change the output."""
    both = dedup.with_near_dup_copies(docs, "doc_id")
    base = {(r.id_a, r.id_b, r.inter, r.uni)
            for r in dedup.minhash_lsh_pairs(both, "doc_id",
                                             min_jaccard_pct=70).collect()}
    salted = {(r.id_a, r.id_b, r.inter, r.uni)
              for r in dedup.minhash_lsh_pairs(both, "doc_id",
                                               min_jaccard_pct=70,
                                               salt_cap=2).collect()}
    assert base == salted and base


def test_minhash_scope_releases_its_caches(spark, docs):
    """Run inside ``scoped_persist``, minhash_lsh_pairs leaves exactly the
    persistent RDDs it found: its signature and band caches and the
    oversized-bucket probe are all released."""
    from ocr_system_spark.persist import scoped_persist
    docs.count()                        # the fixture's own cache, filled
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    # an id offset no other test uses: a fresh plan, not a cached one
    both = dedup.with_near_dup_copies(docs, "doc_id", id_offset=700000)
    with scoped_persist():
        n = dedup.minhash_lsh_pairs(both, "doc_id",
                                    min_jaccard_pct=70).count()
    assert n > 0
    assert set(jsc.getPersistentRDDs().keySet()) == before


# minhash_signatures / band_rows against test-side references: the
# signature kernel's per-row chain (word hash, position mix, affine
# permutations) and the F.* form of the band expression.
MIXED_TEXTS = [
    "",
    None,
    "two words",
    "exactly three words",
    "seven words make exactly one seven gram",
    "a b c a b c a b c a b c",                     # repeated n-grams
    "nbsp\xa0splits here and\u2003em space too ok",  # str.split splits both
    "the quick brown fox jumps over the lazy dog " * 3,
]


def _string_shingles(text, n):
    """The readable spec: distinct word-n-gram strings of a text."""
    words = (text or "").split()
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def test_hashed_shingles_preserve_string_shingle_semantics(spark, docs):
    """String shingles (the readable spec, computed here) and the hashed
    shingles of the production kernel must agree on every set-cardinality
    the dedup operators consume: per-doc distinct counts and pairwise
    intersection sizes. Documents with no shingle are absent."""
    rows = list(enumerate(MIXED_TEXTS, start=-len(MIXED_TEXTS)))
    rows += [(r.doc_id, r.text) for r in docs.limit(40).collect()]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    h = dedup.minhash_signatures(d, "doc_id").collect()
    strs = {i: _string_shingles(t, 3) for i, t in rows}
    strs = {i: s for i, s in strs.items() if s}
    hsh = {r.id: set(r.sh_hashes) for r in h}
    assert set(strs) == set(hsh)
    assert {-8, -7, -6} & set(hsh) == set()       # "", None, two words
    for k in strs:
        assert len(strs[k]) == len(hsh[k]), k
    ids = sorted(strs)
    for a in ids[:10]:
        for b in ids[:10]:
            if a < b:
                assert len(strs[a] & strs[b]) == len(hsh[a] & hsh[b]), (a, b)


def _ref_signatures(rows, n):
    params = dedup._minhash_params()
    a = np.array([x for x, _ in params], dtype=np.int64)[None, :]
    b = np.array([x for _, x in params], dtype=np.int64)[None, :]
    out = {}
    for doc_id, text in rows:
        arr = dedup._hashed_shingles_one((text or "").split(), n, {})
        if arr.size:
            sig = (((arr % dedup.MERSENNE31)[:, None] * a + b)
                   % dedup.MERSENNE31).min(axis=0)
            out[doc_id] = (arr.tolist(), sig.tolist())
    return out


@pytest.mark.parametrize("n", [dedup.SHINGLE_N, 7])
def test_minhash_signatures_match_row_reference(spark, docs, n):
    """``minhash_signatures`` at its pinned shingle size; other sizes reach
    the same kernel through ``_shingle_rows``, as ``decontaminate`` does."""
    rows = list(enumerate(MIXED_TEXTS, start=-len(MIXED_TEXTS)))
    rows += [(r.doc_id, r.text) for r in docs.limit(60).collect()]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    if n == dedup.SHINGLE_N:
        sig = dedup.minhash_signatures(df, "doc_id")
    else:
        sig = dedup._shingle_rows(
            df.select(F.col("doc_id").alias("id"), "text"), "text", n,
            dedup._minhash_params())
    assert [(f.name, f.dataType.simpleString(), f.nullable)
            for f in sig.schema.fields] == [
        ("id", "bigint", True), ("sh_hashes", "array<bigint>", True),
        ("minhash", "array<bigint>", True)]
    got = {r.id: (r.sh_hashes, r.minhash) for r in sig.collect()}
    assert got == _ref_signatures(rows, n)


def _ref_band_rows(sig, bands, rows):
    band_structs = F.array(*[
        F.struct(
            F.lit(j).alias("band"),
            F.xxhash64(F.concat_ws(",", *[
                F.element_at("minhash", j * rows + r + 1).cast("string")
                for r in range(rows)
            ])).alias("bhash"),
        )
        for j in range(bands)
    ])
    return (sig.select("id", F.explode(band_structs).alias("b"))
            .select("id", F.col("b.band").alias("band"),
                    F.col("b.bhash").alias("bhash")))


@pytest.mark.parametrize("bands,rows",
                         [(dedup.MINHASH_BANDS, dedup.MINHASH_ROWS)])
def test_band_rows_match_column_reference(spark, docs, bands, rows):
    sig = dedup.minhash_signatures(docs, "doc_id")
    got = dedup.band_rows(sig)
    exp = _ref_band_rows(sig, bands, rows)
    assert got.schema == exp.schema
    assert sorted(got.collect()) == sorted(exp.collect())
