"""Round-4 operators: guard-aware n-gram dedup evidence, incremental
MinHash index update, quality-aware keep-best dedup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_system_spark.operators import dedup


# ---------------------------------------------------------------------------
# guard-aware n-gram Jaccard: the adversarial corpus the driver query uses
# ---------------------------------------------------------------------------

def _guard_corpus(spark, n_docs=200):
    """Every doc: one universal 3-word prefix (hot shingle), a mid tier
    keyed by (id//2)%16, a pair tier keyed by id//2, one unique word."""
    d = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    g = F.floor(F.col("doc_id") / 2).cast("long")
    gs, xs = g.cast("string"), (g % 16).cast("string")
    text = F.concat_ws(
        " ", F.lit("z0"), F.lit("z1"), F.lit("z2"),
        F.concat(F.lit("ma"), xs), F.concat(F.lit("mb"), xs),
        F.concat(F.lit("mc"), xs),
        F.concat(F.lit("pa"), gs), F.concat(F.lit("pb"), gs),
        F.concat(F.lit("pc"), gs),
        F.concat(F.lit("u"), F.col("doc_id").cast("string")))
    return d.select("doc_id", text.alias("text"))


def test_ngram_guard_construction_has_hot_and_salted_groups(spark):
    """The adversarial corpus really does exercise both guard tiers at the
    chosen params: ≥1 shingle group > max_group (dropped) and ≥1 group in
    (salt_cap, max_group] (salted)."""
    docs = _guard_corpus(spark)
    freq = (dedup._shingle_rows(docs, "text", 3)
            .select(F.explode("sh_hashes").alias("h"))
            .groupBy("h").agg(F.count(F.lit(1)).alias("g")))
    assert freq.filter(F.col("g") > 150).count() >= 1          # hot tier
    assert freq.filter((F.col("g") > 4) & (F.col("g") <= 150)).count() >= 1


def test_ngram_guard_changes_the_answer(spark):
    """Guarded vs unguarded runs disagree on (inter, uni) for every pair —
    so the driver oracle's hash match is proof the guard fired, not a
    vacuous pass."""
    docs = _guard_corpus(spark)
    guarded = dedup.ngram_jaccard_pairs(
        docs, "doc_id", min_jaccard_pct=50, max_group=150, salt_cap=20) \
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    unguarded = dedup.ngram_jaccard_pairs(
        docs, "doc_id", min_jaccard_pct=50, max_group=10**9, salt_cap=10**9) \
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    # same pair set (pairs sit far above the threshold either way) ...
    assert list(guarded["id_a"]) == list(unguarded["id_a"])
    assert list(guarded["id_b"]) == list(unguarded["id_b"])
    # ... but the counts exclude the hot shingle only under the guard
    assert (guarded["inter"] == 6).all() and (guarded["uni"] == 8).all()
    assert (unguarded["inter"] == 7).all() and (unguarded["uni"] == 9).all()
    assert len(guarded) == 100                     # one pair per doc couple


def test_ngram_salting_is_output_invariant(spark):
    """Tiny salt_cap (mid groups of ~12 docs get triangle-salted) vs huge
    salt_cap (plain join): identical pairs and counts — salting changes
    the plan, never the answer."""
    docs = _guard_corpus(spark)
    a = dedup.ngram_jaccard_pairs(
        docs, "doc_id", min_jaccard_pct=50, max_group=150, salt_cap=4) \
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    b = dedup.ngram_jaccard_pairs(
        docs, "doc_id", min_jaccard_pct=50, max_group=150, salt_cap=10**9) \
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    assert a.equals(b)


# ---------------------------------------------------------------------------
# incremental MinHash index maintenance (update + versioned atomic store)
# ---------------------------------------------------------------------------

def _docs_df(spark, specs):
    """specs: [(id, words:list[str])] -> (doc_id, text)"""
    return spark.createDataFrame(
        [(int(i), " ".join(w)) for i, w in specs],
        "doc_id long, text string")


def _words(tag: str):
    return [f"{tag}w{j}" for j in range(12)]


def test_index_update_three_batch_loop(spark, tmp_path):
    """The production loop end-to-end over a versioned store: batch N+1
    dedups against batch N's SURVIVORS; within-batch dups keep min id;
    publishes are atomic and retry-idempotent."""
    from ocr_system_spark.plans import index_store
    path = str(tmp_path / "mh_index")

    # v1: base corpus, docs 0..9
    base = _docs_df(spark, [(i, _words(f"d{i}")) for i in range(10)])
    v = index_store.write_index_version(
        dedup.minhash_signatures(base, "doc_id"), path, n_partitions=4)
    assert v == 1

    # batch 1: a near-dup of doc 3 (drop first word) + a genuinely new doc
    b1 = _docs_df(spark, [(103, _words("d3")[1:]), (120, _words("n20"))])
    idx, ver = index_store.read_index(spark, path)
    assert ver == 1
    b1_sig = dedup.minhash_signatures(b1, "doc_id").cache()
    pairs1 = dedup.incremental_minhash_pairs(
        b1_sig, idx, include_batch_pairs=True).cache()
    assert {(r.index_id, r.batch_id) for r in pairs1.collect()} == {(3, 103)}
    v = index_store.write_index_version(
        dedup.update_minhash_index(idx, b1_sig, pairs1), path, n_partitions=4)
    assert v == 2
    idx2, _ = index_store.read_index(spark, path)
    ids2 = {r.id for r in idx2.select("id").collect()}
    assert ids2 == set(range(10)) | {120}          # 103 dropped, 120 joined

    # batch 2: near-dup of batch-1 SURVIVOR 120 (the point of the loop),
    # a fresh doc, and an identical within-batch pair (min id must win)
    b2 = _docs_df(spark, [
        (220, _words("n20")[1:]),                  # dup of survivor 120
        (130, _words("n30")),                      # fresh
        (140, _words("same")), (141, _words("same")),  # within-batch dup
    ])
    b2_sig = dedup.minhash_signatures(b2, "doc_id").cache()
    pairs2 = dedup.incremental_minhash_pairs(
        b2_sig, idx2, include_batch_pairs=True).cache()
    got = {(r.index_id, r.batch_id) for r in pairs2.collect()}
    assert (120, 220) in got                       # caught via the GROWN index
    assert (140, 141) in got                       # within-batch leg
    v = index_store.write_index_version(
        dedup.update_minhash_index(idx2, b2_sig, pairs2), path,
        n_partitions=4)
    assert v == 3
    idx3, _ = index_store.read_index(spark, path)
    ids3 = {r.id for r in idx3.select("id").collect()}
    assert ids3 == ids2 | {130, 140}               # 220 and 141 dropped

    # retry-idempotent republish of the same version
    v = index_store.write_index_version(idx3, path, version=3, n_partitions=4)
    assert v == 3 and index_store.read_latest_version(path) == 3
    idx3b, _ = index_store.read_index(spark, path)
    assert {r.id for r in idx3b.select("id").collect()} == ids3

    # a crashed publish (data written, pointer NOT swapped) is invisible
    import os
    os.makedirs(os.path.join(path, "v00000099"), exist_ok=True)
    _, ver = index_store.read_index(spark, path)
    assert ver == 3


def test_index_update_recrawl_keeps_stored_version(spark, tmp_path):
    """An id present in both index and batch (re-crawl) must not be
    appended twice — the stored row wins."""
    base = _docs_df(spark, [(1, _words("a")), (2, _words("b"))])
    sig = dedup.minhash_signatures(base, "doc_id")
    recrawl = _docs_df(spark, [(2, _words("b-changed"))])
    r_sig = dedup.minhash_signatures(recrawl, "doc_id")
    pairs = dedup.incremental_minhash_pairs(r_sig, sig,
                                            include_batch_pairs=True)
    nxt = dedup.update_minhash_index(sig, r_sig, pairs)
    assert nxt.filter(F.col("id") == 2).count() == 1


# ---------------------------------------------------------------------------
# quality-aware keep-best dedup policy
# ---------------------------------------------------------------------------

def test_keep_best_prefers_score_over_min_id(spark):
    from ocr_system_spark.operators.components import keep_best
    scored = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (7, 5)],
        "doc_id long, score long")
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7)], "id long, comp long")
    kept = {(r.doc_id, r.comp) for r in
            keep_best(scored, clusters, "score").collect()}
    # cluster 1: ids 2 and 3 tie on score 30 -> min id 2 wins (NOT id 1)
    assert kept == {(2, 1), (7, 7)}


def test_keep_best_plan_single_window_no_cartesian(spark):
    from ocr_system_spark.operators.components import keep_best
    scored = spark.createDataFrame([(1, 10)], "doc_id long, score long")
    clusters = spark.createDataFrame([(1, 1)], "id long, comp long")
    plan = keep_best(scored, clusters, "score") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window [") == 1
    # Spark 4 bonus: rank<=1 compiles to a PARTIAL WindowGroupLimit before
    # the comp-key Exchange — a map-side top-1 prune, so a viral cluster
    # ships ~one row per map partition instead of its whole membership
    assert "WindowGroupLimit" in plan and "Partial" in plan


# ---------------------------------------------------------------------------
# streaming incremental dedup loop (foreachBatch over the versioned store)
# ---------------------------------------------------------------------------

def _doc_pdf(specs):
    import pandas as pd
    return pd.DataFrame({"doc_id": [int(i) for i, _ in specs],
                         "text": [" ".join(w) for _, w in specs]})


def _dedup_stream(spark, tmp_path, **kw):
    """(dirs, store, run): ``run()`` drains the parquet files in
    ``dirs["in"]`` through the incremental dedup stream, resuming the
    same checkpoint on every call."""
    import os
    from pyspark.sql import types as T
    from ocr_system_spark.streaming import incremental

    d = {k: str(tmp_path / k) for k in ["in", "pairs", "ckpt"]}
    os.makedirs(d["in"])
    store = str(tmp_path / "store")
    schema = T.StructType([T.StructField("doc_id", T.LongType(), False),
                           T.StructField("text", T.StringType(), True)])

    def run():
        stream = (spark.readStream.schema(schema).format("parquet")
                  .option("path", d["in"])
                  .option("maxFilesPerTrigger", "1").load())
        incremental.start_incremental_dedup_stream(
            stream, store, d["pairs"], d["ckpt"], **kw).awaitTermination(180)

    return d, store, run


def test_streaming_incremental_dedup_loop(spark, tmp_path):
    """Two micro-batches through the stream: batch 0 bootstraps the index
    (within-batch dups deduped), batch 1 dedups against batch 0's
    SURVIVORS; versions are batch-id derived; pairs are logged per batch."""
    import os
    from ocr_system_spark.plans import index_store

    d, store, run_stream = _dedup_stream(spark, tmp_path, n_partitions=4,
                                         base_version=0)
    # batch 0: two distinct docs + an identical within-batch dup
    _doc_pdf([(1, _words("a")), (2, _words("b")), (3, _words("b"))]) \
        .to_parquet(os.path.join(d["in"], "b0.parquet"), index=False)
    run_stream()
    idx, ver = index_store.read_index(spark, store)
    assert ver == 1                      # batch 0 -> version 0+0+1
    assert {r.id for r in idx.select("id").collect()} == {1, 2}  # 3 deduped

    # batch 1: near-dup of surviving doc 2 + a fresh doc
    _doc_pdf([(10, _words("b")[1:]), (11, _words("c"))]) \
        .to_parquet(os.path.join(d["in"], "b1.parquet"), index=False)
    run_stream()                         # checkpoint resumes at batch 1
    idx2, ver2 = index_store.read_index(spark, store)
    assert ver2 == 2
    assert {r.id for r in idx2.select("id").collect()} == {1, 2, 11}
    pairs1 = spark.read.parquet(os.path.join(d["pairs"], "batch=1"))
    assert {(r.index_id, r.batch_id) for r in pairs1.collect()} == {(2, 10)}


def test_streaming_incremental_dedup_replay_idempotent(spark, tmp_path):
    """Re-running a micro-batch (the crash-replay case, including AFTER its
    publish landed) leaves the store at the same version with identical
    contents and replaces — not duplicates — its pairs log."""
    import os
    from ocr_system_spark.plans import index_store
    from ocr_system_spark.streaming import incremental

    store = str(tmp_path / "store")
    pairs_dir = str(tmp_path / "pairs")
    base = _docs_df(spark, [(1, _words("a")), (2, _words("b"))])
    v = incremental.process_dedup_batch(base, 0, store, pairs_dir,
                                        base_version=0, n_partitions=2)
    assert v == 1
    batch = _docs_df(spark, [(10, _words("a")[1:]), (11, _words("z"))])
    v = incremental.process_dedup_batch(batch, 1, store, pairs_dir,
                                        base_version=0, n_partitions=2)
    assert v == 2
    ids_after = {r.id for r in
                 index_store.read_index(spark, store)[0].select("id").collect()}
    assert ids_after == {1, 2, 11}

    # replay batch 1 after its publish already landed
    v = incremental.process_dedup_batch(batch, 1, store, pairs_dir,
                                        base_version=0, n_partitions=2)
    assert v == 2 and index_store.read_latest_version(store) == 2
    idx, _ = index_store.read_index(spark, store)
    assert {r.id for r in idx.select("id").collect()} == ids_after
    assert idx.count() == 3              # no duplicated survivor rows
    pairs1 = spark.read.parquet(os.path.join(pairs_dir, "batch=1"))
    assert pairs1.count() == 1           # replaced, not appended


def test_streaming_incremental_dedup_restart_keeps_base_version(
        spark, tmp_path):
    """Restarting the stream on the same checkpoint with the default
    base_version resumes the batch-id sequence at 1 and must keep mapping
    it onto the version chain it started: batch 1 publishes version 2
    (pinned base 0 + 1 + 1), not latest + 1 + 1 = 3."""
    import os
    from ocr_system_spark.plans import index_store

    d, store, run_stream = _dedup_stream(spark, tmp_path, n_partitions=2)
    _doc_pdf([(1, _words("a")), (2, _words("b"))]) \
        .to_parquet(os.path.join(d["in"], "b0.parquet"), index=False)
    run_stream()
    assert index_store.read_latest_version(store) == 1
    _doc_pdf([(11, _words("c"))]) \
        .to_parquet(os.path.join(d["in"], "b1.parquet"), index=False)
    run_stream()
    idx, ver = index_store.read_index(spark, store)
    assert ver == 2
    assert {r.id for r in idx.select("id").collect()} == {1, 2, 11}


def test_process_dedup_batch_releases_its_caches(spark, tmp_path):
    """Every relation a micro-batch caches (signatures, band rows, the
    oversized-bucket probes, the pairs) is released when the batch
    returns, replays included; a relation the caller cached beforehand
    stays cached."""
    from pyspark import StorageLevel
    from ocr_system_spark.streaming import incremental

    jsc = spark.sparkContext._jsc

    def persistent_rdds():
        return set(jsc.getPersistentRDDs().keySet())

    store = str(tmp_path / "store")
    pairs_dir = str(tmp_path / "pairs")
    b0 = _docs_df(spark, [(1, _words("a")), (2, _words("b"))]).cache()
    b0.count()
    b1 = _docs_df(spark, [(10, _words("a")[1:]), (11, _words("z"))])
    before = persistent_rdds()
    for batch, batch_id in [(b0, 0), (b1, 1), (b1, 1)]:
        incremental.process_dedup_batch(batch, batch_id, store, pairs_dir,
                                        base_version=0, n_partitions=2)
        assert persistent_rdds() == before, batch_id
    assert b0.storageLevel != StorageLevel.NONE
    b0.unpersist()


# ---------------------------------------------------------------------------
# edge cases: empty relations through the round-4 operators
# ---------------------------------------------------------------------------

def test_index_update_empty_batch_is_identity(spark, tmp_path):
    from ocr_system_spark.plans import index_store
    base = _docs_df(spark, [(1, _words("a")), (2, _words("b"))])
    sig = dedup.minhash_signatures(base, "doc_id")
    empty = sig.limit(0)
    pairs = dedup.incremental_minhash_pairs(empty, sig,
                                            include_batch_pairs=True)
    nxt = dedup.update_minhash_index(sig, empty, pairs)
    assert nxt.count() == 2
    # and the store round-trips it
    path = str(tmp_path / "s")
    index_store.write_index_version(nxt, path, n_partitions=2)
    got, v = index_store.read_index(spark, path)
    assert v == 1 and got.count() == 2


def test_index_update_all_docs_too_short(spark):
    """Docs under the shingle size produce empty signature relations end
    to end — no crash, no rows."""
    shorty = _docs_df(spark, [(1, ["one", "two"]), (2, ["x"])])
    sig = dedup.minhash_signatures(shorty, "doc_id")
    assert sig.count() == 0
    pairs = dedup.incremental_minhash_pairs(sig, sig,
                                            include_batch_pairs=True)
    assert pairs.count() == 0


def test_keep_best_empty_inputs(spark):
    from ocr_system_spark.operators.components import keep_best
    scored = spark.createDataFrame([], "doc_id long, score long")
    clusters = spark.createDataFrame([], "id long, comp long")
    assert keep_best(scored, clusters, "score").count() == 0


def test_ngram_guard_all_shingles_hot(spark):
    """A corpus where EVERY shingle exceeds max_group (all docs identical)
    ends with empty shingle sets — zero pairs, no crash, no div-by-zero."""
    docs = spark.range(20).select(
        F.col("id").alias("doc_id"), F.lit("same words every doc here").alias("text"))
    out = dedup.ngram_jaccard_pairs(docs, "doc_id", min_jaccard_pct=50,
                                    max_group=10, salt_cap=5)
    assert out.count() == 0


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

def test_decontaminate_removes_leaked_docs_only(spark):
    from ocr_system_spark.operators.decontaminate import (contamination_hits,
                                                          decontaminate)
    corpus = _docs_df(spark, [
        (1, _words("clean1")),
        (2, _words("clean2")),
        (3, _words("leak") + ["tail1", "tail2"]),        # contains benchmark
        (4, ["pre"] + _words("leak")[2:9] + ["post"]),   # partial overlap ≥ n
    ])
    bench = _docs_df(spark, [(100, _words("leak"))]).select("text")
    hits = {r.id: r.n_hits for r in
            contamination_hits(corpus, bench, n=5).collect()}
    assert set(hits) == {3, 4}
    assert hits[3] >= 8 and hits[4] >= 3
    kept = {r.doc_id for r in decontaminate(corpus, bench, n=5).collect()}
    assert kept == {1, 2}


def test_decontaminate_no_overlap_keeps_everything(spark):
    from ocr_system_spark.operators.decontaminate import decontaminate
    corpus = _docs_df(spark, [(1, _words("a")), (2, _words("b"))])
    bench = _docs_df(spark, [(9, _words("other"))]).select("text")
    assert decontaminate(corpus, bench, n=5).count() == 2


def test_decontaminate_short_docs_never_flagged(spark):
    """Docs shorter than n words have no n-grams — never contaminated."""
    from ocr_system_spark.operators.decontaminate import contamination_hits
    corpus = _docs_df(spark, [(1, ["leakw0", "leakw1"])])
    bench = _docs_df(spark, [(9, _words("leak"))]).select("text")
    assert contamination_hits(corpus, bench, n=5).count() == 0


def test_decontaminate_plan_is_broadcast_semi(spark):
    """The scale contract: the flag join must compile to a BROADCAST
    LeftSemi hash join (the corpus side never shuffles for the flag) and
    the whole audit carries no cartesian/nested-loop anywhere."""
    from ocr_system_spark.operators.decontaminate import contamination_hits
    corpus = _docs_df(spark, [(1, _words("a"))])
    bench = _docs_df(spark, [(9, _words("b"))]).select("text")
    plan = contamination_hits(corpus, bench, n=5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan              # corpus never shuffles to join


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------

def test_pack_chunks_contract(spark):
    """Packs fill greedily in (id, chunk_id) order per shard; a pack's
    members are consecutive; overflow is bounded by one chunk; pack ids
    are globally unique across shards."""
    from ocr_system_spark.operators.chunking import pack_chunks
    rows = [(i, 0, 30) for i in range(8)]           # 8 docs, 30 tokens each
    chunks = spark.createDataFrame(
        rows, "id long, chunk_id long, n_tokens long")
    out = pack_chunks(chunks, budget=64, n_shards=2).toPandas() \
        .sort_values(["shard", "id", "chunk_id"]).reset_index(drop=True)
    # shard 0: ids 0,2,4,6 -> cum_before 0,30,60,90 -> packs 0,0,0,1
    s0 = out[out["shard"] == 0]
    assert list(s0["pack_id"] % (1 << 40)) == [0, 0, 0, 1]
    assert list(s0["pack_offset"]) == [0, 30, 60, 26]
    # shard 1 mirrors with distinct global pack ids
    s1 = out[out["shard"] == 1]
    assert set(s0["pack_id"]) & set(s1["pack_id"]) == set()
    # every pack's token mass stays under budget + one chunk
    merged = out.merge(chunks.toPandas(), on=["id", "chunk_id"])
    mass = merged.groupby("pack_id")["n_tokens"].sum()
    assert (mass <= 64 + 30).all()


def test_pack_chunks_rejects_bad_budget(spark):
    from ocr_system_spark.operators.chunking import pack_chunks
    chunks = spark.createDataFrame([(1, 0, 5)],
                                   "id long, chunk_id long, n_tokens long")
    with pytest.raises(ValueError):
        pack_chunks(chunks, budget=0)


def test_pack_chunks_shard_parallel_plan(spark):
    """The scale contract: ONE hash partition by shard, no global sort or
    single-partition window."""
    from ocr_system_spark.operators.chunking import pack_chunks
    chunks = spark.createDataFrame([(1, 0, 5)],
                                   "id long, chunk_id long, n_tokens long")
    plan = pack_chunks(chunks, budget=64) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(shard" in plan
    assert "SinglePartition" not in plan


def test_pack_chunks_matches_python_reference_random(spark):
    """Seeded random chunk relation vs a transparent Python replay of the
    packing contract (per-shard (id, chunk_id) order, running sum, grid
    cut) — the no-Spark mirror of the DuckDB oracle."""
    import numpy as np
    from ocr_system_spark.operators.chunking import pack_chunks
    rng = np.random.default_rng(42)
    rows = []
    for doc in rng.choice(200, size=80, replace=False):
        for c in range(int(rng.integers(1, 4))):
            rows.append((int(doc), c, int(rng.integers(1, 40))))
    chunks = spark.createDataFrame(
        rows, "id long, chunk_id long, n_tokens long")
    got = {(r.id, r.chunk_id): (r.shard, r.pack_id, r.pack_offset)
           for r in pack_chunks(chunks, budget=64, n_shards=4).collect()}

    by_shard: dict = {}
    for i, c, t in rows:
        by_shard.setdefault(i % 4, []).append((i, c, t))
    expect = {}
    for shard, members in by_shard.items():
        cum = 0
        for i, c, t in sorted(members):
            expect[(i, c)] = (shard, shard * (1 << 40) + cum // 64, cum % 64)
            cum += t
    assert got == expect


# ---------------------------------------------------------------------------
# deterministic sampling: per-group caps + hash split
# ---------------------------------------------------------------------------

def test_cap_per_group_deterministic_and_capped(spark):
    from ocr_system_spark.operators.sampling import cap_per_group
    rows = [(i, f"h{i % 3}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, host string")
    a = cap_per_group(df, "host", cap=5).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    b = cap_per_group(df.repartition(7), "host", cap=5).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)                            # partitioning-invariant
    assert (a.groupby("host").size() == 5).all()
    # small groups pass through whole
    tiny = spark.createDataFrame([(1, "x")], "doc_id long, host string")
    assert cap_per_group(tiny, "host", cap=5).count() == 1
    with pytest.raises(ValueError):
        cap_per_group(df, "host", cap=0)


def test_cap_per_group_plan_map_side_prune(spark):
    from ocr_system_spark.operators.sampling import cap_per_group
    df = spark.createDataFrame([(1, "h")], "doc_id long, host string")
    plan = cap_per_group(df, "host", cap=5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_with_split_stable_and_fraction_sane(spark):
    from ocr_system_spark.operators.sampling import with_split
    df = spark.range(4000).withColumnRenamed("id", "doc_id")
    out = with_split(df, holdout_sixteenths=2).toPandas()
    frac = (out["split"] == "holdout").mean()
    assert abs(frac - 2 / 16) < 0.03              # exact-in-expectation
    # per-id assignment is a pure function: same ids -> same split always
    again = with_split(df.repartition(13), holdout_sixteenths=2).toPandas()
    merged = out.merge(again, on="doc_id", suffixes=("_a", "_b"))
    assert (merged["split_a"] == merged["split_b"]).all()
    with pytest.raises(ValueError):
        with_split(df, holdout_sixteenths=16)
