"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the exactness baseline: broadcast the (small)
  query set against the corpus, score with JVM higher-order functions
  (zip_with/aggregate — no Python, no UDF), rank with a window;
* LSH-bucketed top-k — the scale path: random-hyperplane signatures put
  each vector in a bucket; queries only score candidates sharing a bucket
  probe. At 10^12 rows the bucket join replaces the full cross product —
  the cross join is O(Q·N) while LSH is O(Q·N/2^bits · probes);
* cosine near-dup pairs — threshold join used as the embedding-based dedup
  strategy.

All scoring is double-precision accumulation over float32 inputs; outputs
expose integer ids/ranks (ties broken by id) so cross-engine comparison is
exact.
"""

from __future__ import annotations

import random
from typing import List, Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from ._rowmap import map_rows
from .sampling import md5_key


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


TOPK_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("neighbor_id", T.LongType(), False),
    T.StructField("rank", T.IntegerType(), False),
])


def _collect_matrix(queries: DataFrame, id_col: str, vec_col: str):
    rows = queries.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    return ids, mat


def _sample_centroids(emb: DataFrame, n_centroids: int, id_col: str,
                      vec_col: str) -> list:
    """n_centroids deterministic sample vectors, cell-numbered by ascending
    id (engine-stable). Raises when the corpus is empty; clamps (with the
    clamp visible to the caller via the returned length) when the corpus
    has fewer rows than requested cells.

    The sample is the first n_centroids rows in md5-of-id order: unlike an
    id-stride filter it does not depend on the id SPACE (gappy ids sample
    just as uniformly), and ORDER BY + LIMIT compiles to
    TakeOrderedAndProject (per-partition partial top-n, no global sort)."""
    rows = (emb.select(id_col, vec_col)
            .orderBy(md5_key(F.col(id_col)), F.col(id_col))
            .limit(n_centroids).collect())
    if not rows:
        raise ValueError(
            "IVF centroid init: embedding relation is empty — cannot "
            f"sample {n_centroids} centroids")
    rows.sort(key=lambda r: r[0])
    return [[float(x) for x in r[1]] for r in rows]


def _partial_topk_frame(ids, q_ids, scores, k) -> pa.RecordBatch:
    """Per-query partial top-k WITHIN one scored block: keep only rows whose
    score ties-or-beats the block's k-th best for that query (score ties are
    all kept, so the global (score desc, id asc) winner set is preserved —
    any global top-k member is in its own block's kept set). This is what
    bounds the shuffle: the downstream global window ranks ≈ blocks·k·nq
    rows instead of corpus·nq."""
    nb, nq = scores.shape
    self_mask = ids[:, None] == q_ids[None, :]
    s = np.where(self_mask, -np.inf, scores)
    k_local = min(k, nb)
    if nb > k_local:
        thresh = np.partition(s, nb - k_local, axis=0)[nb - k_local, :]
        keep = (s >= thresh[None, :]) & ~self_mask
    else:
        keep = ~self_mask
    rows, cols = np.nonzero(keep)
    return pa.RecordBatch.from_arrays(
        [pa.array(ids[rows]), pa.array(q_ids[cols]), pa.array(s[rows, cols])],
        names=_SCORED_SCHEMA.names)


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, rank) — exact cosine top-k.

    The query set is small by definition: it is collected to the driver and
    closed over as a normalized numpy matrix (the mapInArrow analog of a
    broadcast join). Each corpus Arrow batch is scored with ONE matmul
    (batch×dim @ dim×queries) — a JVM zip_with/aggregate formulation exists
    but higher-order lambdas evaluate interpreted and measured ~10× slower.
    Each batch emits only its per-query partial top-k (argpartition, score
    ties kept), so the global window ranks ≈ batches·k·nq rows — NOT the
    corpus×queries cross product (at 10^12 docs × 20 queries that would be
    2×10^13 shuffled rows for a top-5 answer)."""
    return _rank_scored(brute_force_scored(emb, queries, k, id_col, vec_col), k)


_SCORED_SCHEMA = T.StructType([
    T.StructField("neighbor_id", T.LongType(), False),
    T.StructField("query_id", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
])


def _scored_df(emb: DataFrame, run, id_col: str, vec_col: str) -> DataFrame:
    return emb.select(id_col, vec_col).mapInArrow(run, _SCORED_SCHEMA)


def _ids_and_vectors(batch: pa.RecordBatch, id_col: str, vec_col: str,
                     dtype=np.float64):
    """A batch's int64 ids and its vectors as a (rows, dim) matrix."""
    ids = batch.column(id_col).to_numpy(zero_copy_only=False).astype(np.int64)
    vecs = batch.column(vec_col).to_numpy(zero_copy_only=False).tolist()
    return ids, np.array(vecs, dtype=dtype)


def _rank_scored(scored: DataFrame, k: int) -> DataFrame:
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )


def brute_force_scored(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The pre-window scored relation of brute_force_topk — exposed so the
    volume regression test can pin its size to ≈ batches·k·nq rows."""
    q_ids, q_mat = _collect_matrix(queries, id_col, vec_col)

    def run(batches):
        for batch in batches:
            ids, mat = _ids_and_vectors(batch, id_col, vec_col)
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            yield _partial_topk_frame(ids, q_ids, mat @ q_mat.T, k)

    return _scored_df(emb, run, id_col, vec_col)


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids=None,
    cell_cap: Optional[int] = None,
) -> DataFrame:
    """IVF approximate top-k — the scale path for clustered corpora.

    ``centroids`` (sequence of vectors) plugs in TRAINED cells — see
    ``train_ivf_centroids`` for the distributed Lloyd refinement. When
    omitted, centroids are a deterministic md5-ordered corpus sample
    (``_sample_centroids`` — robust to gappy id spaces, replayable in
    SQL). Each corpus vector is assigned to its nearest centroid (one
    matmul per Arrow batch); a query scores ONLY the cells of its
    ``n_probe`` nearest centroids, so the scan fraction is
    ~n_probe/n_centroids instead of 1.

    ``cell_cap`` is the hot-cell guard: a skewed corpus (most vectors in
    one cell — viral templates, near-constant embeddings) would otherwise
    degrade a probe of that cell to near-brute-force. Cells whose
    occupancy exceeds the cap are re-split into n_sub = ⌈occupancy/cap⌉
    (≤ ``IVF_MAX_SUBCELLS``) HASH chunks of their member ids, and a query
    probing a hot cell probes only ``n_probe`` of its chunks (rotation
    chosen per query id) — so the candidate mass per probed hot cell
    drops from `occupancy` to ≈ occupancy·n_probe/n_sub, GUARANTEED by
    hash balance. A hash split (not a geometric sub-centroid split) is
    deliberate: the cells that go hot in practice are near-duplicate
    blobs, where every geometric sub-centroid ties and the split
    degenerates to one chunk; under a hash split the blob's members are
    statistically interchangeable across chunks, so probing any p of
    them preserves near-dup recall while the per-task bound holds
    unconditionally (same reasoning as dedup's ``_salted_self_join``).
    Costs one extra assignment pass + one tiny aggregate; leave None for
    un-skewed corpora (the oracle replays the None path)."""
    return _rank_scored(
        ivf_scored(emb, queries, k, id_col, vec_col, n_centroids, n_probe,
                   centroids, cell_cap), k)


def ivf_scored(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids=None,
    cell_cap: Optional[int] = None,
) -> DataFrame:
    """The pre-window scored relation of ``ivf_topk`` — exposed so volume
    tests can pin the candidate mass (the hot-cell guard's contract)."""
    q_ids, q_mat = _collect_matrix(queries, id_col, vec_col)

    if centroids is None:
        centroids = _sample_centroids(emb, n_centroids, id_col, vec_col)
    cents = np.array(centroids, dtype=np.float64)
    cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

    # ---- hot-cell guard: find oversized cells, plan their hash chunks ----
    # effective cell key = cell * _SUB_STRIDE + chunk (chunk = 0 unsplit)
    hot_plan: dict = {}
    if cell_cap is not None:
        hist = (_with_cell(emb.select(vec_col), vec_col, cents, drop=vec_col)
                .groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect())
        hot_plan = plan_hot_cells(
            {int(r["cell"]): int(r["n"]) for r in hist}, cell_cap)

    # which (cell[, chunk]) keys does each query probe?
    q_cells = np.argsort(-(q_mat @ cents.T), axis=1)[:, :n_probe]   # (nq, p)
    key_to_queries: dict = {}
    for qi in range(q_mat.shape[0]):
        for c in q_cells[qi]:
            c = int(c)
            n_sub = hot_plan.get(c, 1)
            # per-query rotation spreads probe load over the chunks while
            # keeping the probed set deterministic
            start = int(_id_chunk(np.array([q_ids[qi]]), n_sub)[0])
            for j in range(min(n_probe, n_sub)):
                key_to_queries.setdefault(
                    c * _SUB_STRIDE + (start + j) % n_sub, []).append(qi)
    key_to_queries = {key: np.unique(np.array(qs, dtype=np.int64))
                      for key, qs in key_to_queries.items()}

    def run(batches):
        for batch in batches:
            ids, mat = _ids_and_vectors(batch, id_col, vec_col)
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            assign = np.argmax(mat @ cents.T, axis=1)               # (batch,)
            eff = assign * _SUB_STRIDE
            for c, n_sub in hot_plan.items():
                in_c = np.nonzero(assign == c)[0]
                if in_c.size:
                    eff[in_c] += _id_chunk(ids[in_c], n_sub)
            for key, qs in key_to_queries.items():
                in_cell = np.nonzero(eff == key)[0]
                if in_cell.size == 0:
                    continue
                scores = mat[in_cell] @ q_mat[qs].T                 # (m, |qs|)
                # partial top-k per (batch, cell, query): bounds the window
                # shuffle to ≈ blocks·k rows instead of the probed-cell mass
                yield _partial_topk_frame(ids[in_cell], q_ids[qs], scores, k)

    return _scored_df(emb, run, id_col, vec_col)


IVF_MAX_SUBCELLS = 16    # hash chunks a hot cell splits into, at most
_SUB_STRIDE = 1024       # chunk ids pack below this
_GOLDEN64 = np.uint64(0x9E3779B97F4A7C15)


def plan_hot_cells(hist: dict, cell_cap: int) -> dict:
    """{cell: n_chunks} for cells whose occupancy exceeds the cap:
    n_chunks = ⌈occupancy/cap⌉ capped at ``IVF_MAX_SUBCELLS``. Exposed for
    the volume test pinning the guard's bound."""
    return {c: min(-(-n // cell_cap), IVF_MAX_SUBCELLS)
            for c, n in hist.items() if n > cell_cap}


def _id_chunk(ids: np.ndarray, n_sub: int) -> np.ndarray:
    """Deterministic hash chunk of an id array: splitmix-style multiply +
    high-bits fold, mod n_sub — balanced regardless of id spacing."""
    if n_sub <= 1:
        return np.zeros(len(ids), dtype=np.int64)
    with np.errstate(over="ignore"):
        h = (ids.astype(np.uint64) * _GOLDEN64) >> np.uint64(32)
    return (h % np.uint64(n_sub)).astype(np.int64)


def _with_cell(df: DataFrame, vec_col: str, cents_normed: np.ndarray,
               drop: Optional[str] = None) -> DataFrame:
    """``df`` plus ``cell``, the argmax-cosine centroid of ``vec_col``."""
    def assign(batch):
        mat = np.array(batch.column(vec_col).to_pylist(), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return None, [np.argmax(mat @ cents_normed.T, axis=1).astype(np.int32)]

    return map_rows(df, assign, [T.StructField("cell", T.IntegerType())],
                    drop=drop)


def with_int8_embedding(df: DataFrame, vec_col: str = "embedding",
                        out_col: str = "q8") -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = 127/max|x|,
    q_i = round(x_i·scale) — the 4× storage cut (and SIMD-friendly scan)
    a 100 TB embedding corpus wants. Pure JVM expressions; `round` is
    half-away-from-zero on both Spark and DuckDB, so the quantized
    vectors are integer-identical across engines. Zero vectors quantize
    to all-zeros (scale 0)."""
    absd = F.transform(vec_col, lambda x: F.abs(x.cast("double")))
    mx = F.array_max(absd)
    s = F.when(mx > 0, F.lit(127.0) / mx).otherwise(F.lit(0.0))
    return df.withColumn(
        out_col,
        F.transform(vec_col,
                    lambda x: F.round(x.cast("double") * s).cast("long")))


def brute_force_topk_int8(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k over the INT8-quantized corpus — the storage-efficient
    scan path. Scores are qdot/√(neighbor_norm²): the integer dot and the
    integer squared norm are exact (≤ 64·127² ≪ 2^53), and the one
    division and square root are correctly-rounded IEEE ops of exact
    inputs — so the double scores, and therefore the ranks INCLUDING tie
    breaks, are bit-identical on any engine. (The query's own norm is a
    per-query constant and cancels out of its ranking.)

    Same per-batch partial-top-k shape as ``brute_force_topk``: the
    global window ranks ≈ batches·k·nq rows, never corpus·nq."""
    q8 = with_int8_embedding(queries, vec_col)
    qrows = q8.select(id_col, "q8").collect()
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    q_mat = np.array([r[1] for r in qrows], dtype=np.int64)

    corpus = with_int8_embedding(emb, vec_col).select(
        F.col(id_col).alias("id"), "q8")

    def run(batches):
        for batch in batches:
            ids, mat = _ids_and_vectors(batch, "id", "q8", np.int64)
            na2 = (mat * mat).sum(axis=1)
            # zero-norm corpus vectors are DROPPED, not scored -inf: a
            # -inf row kept by a short block would enter the ranked window
            # while the SQL oracle's WHERE na2 > 0 excludes it — ranks
            # would diverge whenever a query has < k nonzero neighbors
            nz = np.nonzero(na2 > 0)[0]
            if nz.size == 0:
                continue
            ids, mat, na2 = ids[nz], mat[nz], na2[nz]
            dots = (mat @ q_mat.T).astype(np.float64)     # exact ints
            denom = np.sqrt(na2.astype(np.float64))
            yield _partial_topk_frame(ids, q_ids, dots / denom[:, None], k)

    scored = corpus.mapInArrow(run, _SCORED_SCHEMA)
    return _rank_scored(scored, k)


IVF_QUANT_BITS = 20  # centroid-mean quantum: 2^-20 ≈ 1e-6 of vector scale


def ivf_assign(
    emb: DataFrame,
    centroids: "List[List[float]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_col, cell) — argmax-cosine assignment of every vector to the
    given centroid list (ties toward the LOWER cell, the shared
    cross-engine rule).  The cluster-membership relation behind
    SemDeDup-style semantic dedup and cluster-balanced sampling
    (DataComp-class curation: cap documents per semantic cluster so no
    one topic dominates).  Map-only: the centroid matrix broadcasts
    into the Arrow batches; no shuffle."""
    cm = np.array(centroids, dtype=np.float64)
    cn = cm / np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-12)
    return _with_cell(emb.select(id_col, vec_col), vec_col, cn, drop=vec_col)


def train_ivf_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> List[List[float]]:
    """Distributed Lloyd refinement of the IVF centroids — the training
    step ``ivf_topk`` names as its production path.

    Init is the deterministic md5-ordered sample (``_sample_centroids`` —
    the replayable stand-in for k-means||'s oversampling round: random
    oversampling can't be replayed by an independent SQL engine, and
    determinism is what lets the DuckDB oracle recompute training
    end-to-end; the md5 ordering, unlike the previous id-stride filter,
    cannot come up short on gappy id spaces). Each iteration is the exact
    shape a k-means|| refinement runs at scale: one map-only assignment
    pass with the (tiny) centroid matrix broadcast into the Arrow batches,
    then one map-side-combined aggregation of per-(cell, dim) sums — the
    shuffle is ≤ n_centroids·dim rows regardless of corpus size. Only the
    n_centroids×dim centroid matrix ever reaches the driver.

    Cross-engine exactness: vectors are quantized to 2^-IVF_QUANT_BITS
    before summing (integer sums are order-independent and exact), and each
    new centroid dim is (sum/count)/2^IVF_QUANT_BITS — two IEEE-exact-input
    divisions, so an independent engine replaying the same arithmetic gets
    BIT-IDENTICAL centroids (assignment argmax ties broken toward the
    lower cell on both sides). Cells that lose all members keep their
    previous centroid."""
    quant = 1 << IVF_QUANT_BITS
    cents = _sample_centroids(emb, n_centroids, id_col, vec_col)
    if len(cents) < n_centroids:
        # fewer corpus rows than requested cells: every row IS a centroid
        n_centroids = len(cents)
    dim = len(cents[0])

    q = F.transform(vec_col,
                    lambda x: F.round(x.cast("double") * quant).cast("long"))

    for _ in range(iters):
        cm = np.array(cents, dtype=np.float64)
        cn = cm / np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-12)
        sums = (
            _with_cell(emb.select(vec_col), vec_col, cn)
            .select("cell", F.posexplode(q).alias("dim", "qv"))
            .groupBy("cell", "dim")
            .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("c"))
            .collect()                     # ≤ n_centroids·dim tiny rows
        )
        acc: dict = {}
        for r in sums:
            acc.setdefault(int(r["cell"]), [None] * dim)[int(r["dim"])] = \
                (r["s"] / r["c"]) / quant
        cents = [acc.get(c, cents[c]) for c in range(n_centroids)]
    return cents


# The SRP geometries. Both operators hash SRP_DIM-element vectors against
# Gaussian hyperplanes; table t draws its planes from SRP_SEED + 1000·t.
# The oracles replay these planes as literals.
SRP_DIM = 64
SRP_SEED = 424242
LSH_TOPK_TABLES, LSH_TOPK_PLANES = 6, 4
DUP_TABLES, DUP_PLANES = 8, 8


def _srp_planes(n_tables: int, n_planes: int) -> List[List[List[float]]]:
    """Per table, its ``n_planes`` hyperplanes of ``SRP_DIM`` elements."""
    planes = []
    for t in range(n_tables):
        rng = random.Random(SRP_SEED + 1000 * t)
        planes.append([[rng.gauss(0.0, 1.0) for _ in range(SRP_DIM)]
                       for _ in range(n_planes)])
    return planes


def _srp_bucket_rows(df: DataFrame, vec_col: str, out_col: str,
                     n_tables: int, n_planes: int) -> DataFrame:
    """``df`` with one row per SRP bucket id ``out_col`` of ``vec_col``:
    n_tables rows per vector, one per independent hash table.

    Computed in ONE Arrow kernel instead of n_tables·n_planes separate
    JVM ``aggregate(zip_with(...))`` chains: Spark evaluates higher-order
    lambdas per element INTERPRETED, so the expression form paid
    ~n_planes·n_tables·dim interpreted steps per row (measured: the
    whole SRP tier of embedding_dup_pairs dropped 5.5 s → ~1 s at sf0.1
    with this kernel — guide §4.2, hand batches to numpy).

    Bit-exactness contract (the oracle replays bucket assignment from
    plane literals): every per-element product is one IEEE-double
    multiply on both paths, and the plane dot is accumulated STRICTLY
    left-to-right via ``np.cumsum`` — the identical operation order (and
    therefore identical rounding, identical sign) as the JVM
    ``aggregate``'s sequential fold. JVM edge semantics reproduced:
    a NaN dot compares ``> 0`` true under Spark's NaN-is-largest rule
    (``| np.isnan``); a NULL vector, a length≠SRP_DIM vector or a vector with
    a NULL element has no bucket (zip_with pads with nulls → null dot →
    null bucket, which an ``explode`` drops), so its row is dropped."""
    planes = np.array(
        [p for table in _srp_planes(n_tables, n_planes) for p in table],
        dtype=np.float64)                               # (T·P, SRP_DIM)
    offsets = np.array([t << n_planes for t in range(n_tables)],
                       dtype=np.int64)
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    def kernel(batch):
        arr = batch.column(vec_col).to_pylist()
        ok = [i for i, v in enumerate(arr)
              if v is not None and len(v) == SRP_DIM and None not in v]
        bkts = np.empty((len(ok), n_tables), dtype=np.int32)
        # bound the (b, T·P, SRP_DIM) slab: T·P ≤ 64, so ≤ 512·64·64·8 B
        for s in range(0, len(ok), 512):
            blk = ok[s:s + 512]
            m = np.array([arr[i] for i in blk], dtype=np.float64)  # exact f32→f64
            prods = m[:, None, :] * planes[None, :, :]             # (b, T·P, dim)
            acc = np.cumsum(prods, axis=2, out=prods)[:, :, -1]    # JVM fold order
            bits = ((acc > 0) | np.isnan(acc)).astype(np.int64) \
                .reshape(len(blk), n_tables, n_planes)
            bkts[s:s + len(blk)] = bits @ weights + offsets[None, :]
        return np.repeat(np.asarray(ok, dtype=np.int64), n_tables), [bkts.ravel()]

    return map_rows(df, kernel, [T.StructField(out_col, T.IntegerType())])


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via MULTI-TABLE SRP LSH: a vector belongs to one
    bucket per table (``LSH_TOPK_TABLES`` tables of ``LSH_TOPK_PLANES``
    planes); query candidates are the union over tables (classic
    L-table LSH — single-probe recall on moderate-similarity neighbors is
    poor, union-of-tables trades candidate count for recall). Candidates
    are deduped before scoring, then ranked exactly. Recall vs
    brute_force_topk is asserted in tests — approximation is the point.

    Scale shape: the query side is broadcast (no shuffle of the corpus —
    the bucket join is a BroadcastHashJoin on bucket equality). That is
    right while the query set fits a broadcast (~millions of rows); for a
    query set at corpus scale, drop the broadcast hint so the join becomes
    a shuffle on the bucket id, and raise ``LSH_TOPK_PLANES`` with
    log2(N) to keep per-bucket occupancy bounded (same salting rules as
    cosine_dup_pairs)."""
    c = _srp_bucket_rows(
        emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        "cv", "c_bkt", LSH_TOPK_TABLES, LSH_TOPK_PLANES)
    q = _srp_bucket_rows(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        "qv", "q_bkt", LSH_TOPK_TABLES, LSH_TOPK_PLANES)
    cand = (
        # bound: the query set × LSH_TOPK_TABLES bucket rows (see Scale shape)
        c.join(F.broadcast(q), (F.col("c_bkt") == F.col("q_bkt"))
               & (F.col("neighbor_id") != F.col("query_id")))
        .select("query_id", "qv", "neighbor_id", "cv")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _rank_scored(
        cand.withColumn("score", cosine(F.col("qv"), F.col("cv"))), k)


def cosine_dup_pairs_lsh(
    emb: DataFrame,
    min_cosine: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b) pairs with cosine ≥ threshold, via SRP-LSH blocking +
    exact verification — the same candidate-then-verify shape as
    minhash_lsh_pairs, so the plan is a bucket-equality hash join, never a
    nested-loop all-pairs product.

    Candidates are pairs sharing ≥1 of ``DUP_TABLES`` independent SRP buckets;
    every candidate is verified with the exact cosine, so precision is
    exact. Recall: a pair at angle θ splits on one plane with prob θ/π, so
    it shares a table's bucket with prob (1−θ/π)^P and is missed by ALL
    tables with prob (1−(1−θ/π)^P)^T — for near-dups at cosine ≥ 0.99
    (θ ≤ 8.1°, the regime this operator targets) that is < 1e-8 at
    T = ``DUP_TABLES`` = 8, P = ``DUP_PLANES`` = 8; at the 0.95 boundary
    itself it is ~1.2%.

    Scale note (10^12 rows): ``DUP_PLANES`` sets bucket granularity — raise
    it with log2(N) so expected bucket occupancy stays bounded (e.g. 24
    planes → 16.7M buckets/table), and cap/salt residual hot buckets the
    same way minhash_lsh_pairs salts band buckets.
    """
    b = _srp_bucket_rows(
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vv")),
        "vv", "bkt", DUP_TABLES, DUP_PLANES)
    l, r = b.alias("l"), b.alias("r")
    cand = (
        l.join(r, (F.col("l.bkt") == F.col("r.bkt"))
               & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("l.vv").alias("va"),
                F.col("r.id").alias("id_b"), F.col("r.vv").alias("vb"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("score", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("score") >= min_cosine)
        .select("id_a", "id_b")
    )


def cosine_dup_pairs_exact(
    emb: DataFrame,
    min_cosine: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs form — O(N²) nested-loop join, usable ONLY as the
    small-N oracle shadow for cosine_dup_pairs recall tests. Never run
    this at corpus scale."""
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("score", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("score") >= min_cosine)
        .select("id_a", "id_b")
    )
