"""Round-4 ADVICE/VERDICT fixes: md5-sample IVF init (gappy ids), IVF
hot-cell guard, int8-ANN zero-norm exclusion, url trailing-slash fixpoint
(cases added in test_round3_ops), sitecustomize chain scan robustness."""

from __future__ import annotations

import math
import os
import sys
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from ocr_system_spark.operators import similarity

REPO = Path(__file__).resolve().parent.parent


def _vec_df(spark, rows):
    """rows: [(vec_id, [floats])] -> DataFrame(vec_id long, embedding array<float>)"""
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>")


# ---------------------------------------------------------------------------
# IVF init: md5-ordered sample is robust to gappy / sparse id spaces
# ---------------------------------------------------------------------------

def test_train_ivf_centroids_gappy_ids(spark):
    """The ADVICE repro: 64 docs with ids ≡ 1 (mod 4) crashed the stride
    init with IndexError (no id divisible by the stride). The md5 sample
    is id-space independent."""
    rng = np.random.default_rng(7)
    rows = [(4 * i + 1, rng.normal(size=8)) for i in range(64)]
    emb = _vec_df(spark, rows)
    cents = similarity.train_ivf_centroids(emb, n_centroids=16, iters=1)
    assert len(cents) == 16
    assert all(len(c) == 8 for c in cents)


def test_train_ivf_centroids_fewer_rows_than_cells(spark):
    rng = np.random.default_rng(8)
    emb = _vec_df(spark, [(i * 1000 + 3, rng.normal(size=4)) for i in range(5)])
    cents = similarity.train_ivf_centroids(emb, n_centroids=16, iters=1)
    assert len(cents) == 5          # clamped, not crashed


def test_train_ivf_centroids_empty_raises(spark):
    emb = _vec_df(spark, []).filter(F.lit(False))
    with pytest.raises(ValueError, match="empty"):
        similarity.train_ivf_centroids(emb, n_centroids=4, iters=1)


def test_ivf_topk_gappy_ids_bootstrap(spark):
    """ivf_topk's centroids=None bootstrap hits the same sampler."""
    rng = np.random.default_rng(9)
    rows = [(4 * i + 1, rng.normal(size=8)) for i in range(64)]
    emb = _vec_df(spark, rows)
    out = similarity.ivf_topk(
        emb, emb.limit(3), k=3, n_centroids=8, n_probe=8).toPandas()
    assert set(out["rank"]) == {1, 2, 3}


# ---------------------------------------------------------------------------
# IVF hot-cell guard
# ---------------------------------------------------------------------------

def test_plan_hot_cells_math():
    plan = similarity.plan_hot_cells({0: 300, 1: 10, 2: 33}, cell_cap=32)
    assert plan == {0: 10, 2: 2}                # ceil(300/32)=10, ceil(33/32)=2
    # IVF_MAX_SUBCELLS caps the chunk count
    plan = similarity.plan_hot_cells({0: 10_000}, 32)
    assert plan == {0: similarity.IVF_MAX_SUBCELLS}


def test_id_chunk_balanced_and_deterministic():
    ids = np.arange(0, 3000, 7, dtype=np.int64)     # 429 gappy ids
    for n_sub in (2, 5, 10):
        c1 = similarity._id_chunk(ids, n_sub)
        c2 = similarity._id_chunk(ids, n_sub)
        assert (c1 == c2).all()
        counts = np.bincount(c1, minlength=n_sub)
        # hash balance: every chunk within 2x of the even share
        assert counts.max() <= 2 * math.ceil(len(ids) / n_sub), counts
        assert (c1 >= 0).all() and (c1 < n_sub).all()


def _skewed_corpus(spark, n_blob=300, n_rest=20, dim=8):
    """n_blob near-identical vectors (one viral template) + n_rest spread."""
    rng = np.random.default_rng(11)
    base = rng.normal(size=dim)
    rows = [(i, base + rng.normal(scale=1e-3, size=dim)) for i in range(n_blob)]
    rows += [(10_000 + i, rng.normal(size=dim)) for i in range(n_rest)]
    return _vec_df(spark, rows)


def test_ivf_cell_cap_bounds_probed_candidates(spark):
    """The guard's contract: with cell_cap, no probed (cell, chunk) key
    holds more than ~⌈occupancy/n_sub⌉·slack corpus vectors, even when one
    cell holds almost everything — so a probe never degrades to
    near-brute-force. Verified by replaying the kernel's assignment math
    over the whole corpus."""
    emb = _skewed_corpus(spark)
    cap = 32
    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    cents = np.array(
        similarity._sample_centroids(emb, 8, "vec_id", "embedding"))
    cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    assign = np.argmax(mat @ cents.T, axis=1)
    hist = {int(c): int(n) for c, n in
            zip(*np.unique(assign, return_counts=True))}
    plan = similarity.plan_hot_cells(hist, cap)
    assert plan, "skew construction failed to produce a hot cell"
    for c, n_sub in plan.items():
        in_c = ids[assign == c]
        counts = np.bincount(similarity._id_chunk(in_c, n_sub),
                             minlength=n_sub)
        assert counts.max() <= 2 * math.ceil(hist[c] / n_sub), (c, counts)


def test_ivf_cell_cap_end_to_end_recall_on_blob(spark):
    """A blob query under the guard still finds blob neighbors (any chunk
    of a near-dup blob is full of them), and the operator returns full
    top-k rows."""
    emb = _skewed_corpus(spark)
    queries = emb.filter(F.col("vec_id") < 3)
    out = similarity.ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=2,
                              cell_cap=32).toPandas()
    assert len(out) == 15                       # 3 queries × k=5
    # every neighbor of a blob query is a blob member (cosine ≈ 1)
    assert (out["neighbor_id"] < 10_000).all()


def test_ivf_cell_cap_noop_when_no_cell_hot(spark):
    """cap larger than any cell ⇒ byte-identical output to the uncapped
    operator (the guard is pay-for-what-you-use)."""
    rng = np.random.default_rng(13)
    emb = _vec_df(spark, [(i, rng.normal(size=8)) for i in range(80)])
    q = emb.filter(F.col("vec_id") < 5)
    base = similarity.ivf_topk(emb, q, k=3, n_centroids=8, n_probe=3) \
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    capped = similarity.ivf_topk(emb, q, k=3, n_centroids=8, n_probe=3,
                                 cell_cap=10_000) \
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert base.equals(capped)


# ---------------------------------------------------------------------------
# int8 ANN: zero-norm corpus vectors never enter the ranked window
# ---------------------------------------------------------------------------

def test_int8_topk_drops_zero_norm_neighbors(spark):
    """Corpus = 3 nonzero + 2 zero vectors, k=4: the result must contain
    ONLY the nonzero neighbors (3 rows/query, not 4 with -inf fillers) —
    matching the SQL oracle's WHERE na2 > 0."""
    rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0]),
            (4, [0.0, 0.0]), (5, [0.0, 0.0])]
    emb = _vec_df(spark, rows)
    out = similarity.brute_force_topk_int8(
        emb, emb.filter(F.col("vec_id") == 1), k=4).toPandas()
    assert sorted(out["neighbor_id"]) == [2, 3]
    assert sorted(out["rank"]) == [1, 2]


def test_int8_topk_all_zero_corpus_empty(spark):
    emb = _vec_df(spark, [(1, [0.0, 0.0]), (2, [0.0, 0.0])])
    q = _vec_df(spark, [(9, [1.0, 0.0])])
    out = similarity.brute_force_topk_int8(emb, q, k=3).toPandas()
    assert len(out) == 0


# ---------------------------------------------------------------------------
# sitecustomize chain: a bad sys.path entry must not abort the scan
# ---------------------------------------------------------------------------

def test_sitecustomize_chain_survives_bad_path_entries(tmp_path, monkeypatch):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "wk_sitecustomize_test",
        REPO / "ocr_system_spark" / "_workerenv" / "sitecustomize.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    sentinel = tmp_path / "good" / "sitecustomize.py"
    sentinel.parent.mkdir()
    flag = tmp_path / "chained.flag"
    sentinel.write_text(
        f"open({str(flag)!r}, 'w').write('ok')\n")

    real_isfile = os.path.isfile

    def booby_isfile(p):
        if "boom" in str(p):
            raise OSError("transient scan error")
        return real_isfile(p)

    monkeypatch.setattr(os.path, "isfile", booby_isfile)
    monkeypatch.setattr(sys, "path",
                        [str(tmp_path / "boom"), str(sentinel.parent)]
                        + sys.path)
    mod._chain_next_sitecustomize()
    assert flag.exists(), "scan aborted at the bad entry instead of continuing"


def test_ivf_assign_matches_numpy_and_is_maponly(spark):
    """ivf_assign: argmax-cosine per vector, ties to the lower cell,
    no shuffle in the plan (round-5 SemDeDup entry point)."""
    import numpy as np

    from ocr_system_spark.operators import similarity

    rng = [[float((i * 7 + j * 3) % 5 - 2) for j in range(4)]
           for i in range(12)]
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
             [0.0, 0.0, 1.0, 1.0]]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)],
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["cell"]
           for r in similarity.ivf_assign(emb, cents).collect()}
    m = np.array(rng, dtype=np.float64)
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    c = np.array(cents, dtype=np.float64)
    c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    exp = dict(enumerate(np.argmax(m @ c.T, axis=1).tolist()))
    assert got == exp
    plan = (similarity.ivf_assign(emb, cents)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
