"""Embedding queries: brute-force, SRP-LSH, IVF and int8 top-k, trained
IVF centroids, cosine near-dup pairs and cluster-balanced sampling."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_system_spark.operators.sampling import cap_per_group
from ocr_system_spark.operators.similarity import (
    DUP_PLANES, DUP_TABLES, LSH_TOPK_PLANES, LSH_TOPK_TABLES, _srp_planes,
    brute_force_topk, brute_force_topk_int8, cosine_dup_pairs_lsh, ivf_assign,
    ivf_topk, lsh_topk, train_ivf_centroids)
from ocr_system_spark.sources import tables

from ._shared import Builder


def queries() -> dict[str, Builder]:
    q: dict[str, Builder] = {}

    def q_embedding_topk(spark, sf_dir):
        """Brute-force cosine top-5 for the first 20 query vectors."""
        e = tables.load(spark, sf_dir, "embeddings")
        return brute_force_topk(e, e.filter(F.col("vec_id") < 20), k=5)

    q["embedding_topk"] = q_embedding_topk

    def q_embedding_lsh_topk(spark, sf_dir):
        """SRP-LSH bucketed approximate top-5. The hyperplanes are seeded
        constants, so the DuckDB oracle replays the full algorithm from
        plane literals — bucket assignment, candidate union, exact rank."""
        e = tables.load(spark, sf_dir, "embeddings")
        return lsh_topk(e, e.filter(F.col("vec_id") < 20), k=5)

    q["embedding_lsh_topk"] = q_embedding_lsh_topk

    def q_embedding_ivf_topk(spark, sf_dir):
        """IVF approximate top-5 (deterministic centroid sample, nprobe=4
        of 16 cells → ~25% scan). DuckDB oracle replays centroid selection,
        cell assignment, probing, and exact ranking independently."""
        e = tables.load(spark, sf_dir, "embeddings")
        return ivf_topk(e, e.filter(F.col("vec_id") < 20), k=5)

    q["embedding_ivf_topk"] = q_embedding_ivf_topk

    def q_embedding_dup_pairs(spark, sf_dir):
        """Embedding-cosine near-dup pairs (≥0.95) over embeddings ∪ scaled
        copies (exact duplicates up to scale → cosine ≈ 1). The scaled copy
        is computed in FLOAT (x·float32(1.01)) so the DuckDB oracle — which
        now replays the SRP bucket blocking from plane literals instead of
        pretending to be an exact all-pairs contract — sees bit-identical
        vectors on both engines."""
        e = tables.load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        scaled = e.select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: (x * F.lit(1.01).cast("float")).cast("float"),
            ).alias("embedding"),
        )
        return cosine_dup_pairs_lsh(e.union(scaled), min_cosine=0.95)

    q["embedding_dup_pairs"] = q_embedding_dup_pairs

    def q_ivf_train_topk(spark, sf_dir):
        """IVF top-5 on TRAINED centroids: deterministic md5-sample init +
        two distributed Lloyd iterations with integer-exact quantized means, so
        the DuckDB oracle replays training end-to-end (bit-identical
        centroids) and then the probe/rank."""
        e = tables.load(spark, sf_dir, "embeddings")
        cents = train_ivf_centroids(e, n_centroids=16, iters=2)
        return ivf_topk(e, e.filter(F.col("vec_id") < 20), k=5,
                        n_probe=4, centroids=cents)

    q["ivf_train_topk"] = q_ivf_train_topk

    def q_embedding_topk_int8(spark, sf_dir):
        """Exact top-5 over INT8-quantized embeddings (the 4× storage
        path). Quantization, integer dots/norms, and the IEEE-exact score
        are fully replayed by the DuckDB oracle — ranks match
        bit-for-bit, ties included."""
        e = tables.load(spark, sf_dir, "embeddings")
        return brute_force_topk_int8(e, e.filter(F.col("vec_id") < 20), k=5)

    q["embedding_topk_int8"] = q_embedding_topk_int8

    def q_cluster_balanced_sample(spark, sf_dir):
        """Cluster-balanced sampling (the DataComp/SemDeDup curation
        move: cap documents per SEMANTIC cluster so no topic dominates):
        trained IVF centroids assign every embedding a cell (map-only,
        argmax cosine, ties to the lower cell), then the md5-lottery
        per-group cap keeps ≤5 per cell.  The oracle replays training
        end-to-end (the ivf_train_topk chain), the assignment, and the
        lottery window (operators/similarity.py + sampling.py)."""
        e = tables.load(spark, sf_dir, "embeddings")
        cents = train_ivf_centroids(e, n_centroids=16, iters=2)
        assign = ivf_assign(e, cents)
        return cap_per_group(assign, "cell", cap=5, id_col="vec_id")

    q["cluster_balanced_sample"] = q_cluster_balanced_sample

    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["embedding_topk"] = """
        SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS rank FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
                                b.vec_id) AS rk
            FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
            WHERE a.vec_id < 20) t
        WHERE rk <= 5
    """
    # SRP-LSH oracle: the hyperplanes are deterministic seeded constants, so
    # embed them as SQL literals (same trick as the langid profile oracle)
    # and replay the WHOLE algorithm — multi-table bucket assignment,
    # union-of-tables candidate join, exact cosine rank — independently.
    def _plane_lit(p):
        return "[" + ", ".join(repr(x) for x in p) + "]"

    _bkt_exprs = []
    for _t, _planes in enumerate(_srp_planes(LSH_TOPK_TABLES,
                                             LSH_TOPK_PLANES)):
        _bits = " + ".join(
            f"(CASE WHEN list_dot_product(v, {_plane_lit(_p)}) > 0"
            f" THEN {1 << _i} ELSE 0 END)"
            for _i, _p in enumerate(_planes))
        _bkt_exprs.append(f"({_bits} + {_t << LSH_TOPK_PLANES})")
    o["embedding_lsh_topk"] = f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
        b AS (
            SELECT vec_id, unnest([{", ".join(_bkt_exprs)}]) AS bkt
            FROM e),
        cand AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM b q JOIN b c ON q.bkt = c.bkt AND q.vec_id != c.vec_id
            WHERE q.vec_id < 20),
        scored AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY list_cosine_similarity(qe.v, ne.v) DESC,
                                neighbor_id) AS rk
            FROM cand
            JOIN e qe ON qe.vec_id = query_id
            JOIN e ne ON ne.vec_id = neighbor_id)
        SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS rank
        FROM scored WHERE rk <= 5
    """

    # IVF oracle: centroids are a deterministic stride sample by id, cell
    # assignment/probing is argmax cosine with ascending-cell tie-break
    # (numpy argmax/argsort-stable semantics), candidates are the probed
    # cells' members, ranked exactly.
    o["embedding_ivf_topk"] = """
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
        cent AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
            FROM (SELECT vec_id, v FROM e
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
        assign AS (
            SELECT vec_id, cell FROM (
                SELECT e.vec_id, c.cell,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                                    c.cell) AS rk
                FROM e CROSS JOIN cent c) t
            WHERE rk = 1),
        probes AS (
            SELECT vec_id AS query_id, cell FROM (
                SELECT e.vec_id, c.cell,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                                    c.cell) AS rk
                FROM e CROSS JOIN cent c
                WHERE e.vec_id < 20) t
            WHERE rk <= 4),
        cand AS (
            SELECT p.query_id, a.vec_id AS neighbor_id
            FROM probes p JOIN assign a USING (cell)
            WHERE a.vec_id != p.query_id),
        scored AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY list_cosine_similarity(qe.v, ne.v) DESC,
                                neighbor_id) AS rk
            FROM cand
            JOIN e qe ON qe.vec_id = query_id
            JOIN e ne ON ne.vec_id = neighbor_id)
        SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS rank
        FROM scored WHERE rk <= 5
    """

    # int8-ANN oracle: replay quantization (round half-away matches Spark's
    # HALF_UP on both signs), exact integer dots/norms via parallel unnest,
    # and the IEEE-exact score division — bit-identical ranks.
    o["embedding_topk_int8"] = """
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
        sc AS (
            SELECT vec_id, v,
                   CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                        THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
                        ELSE 0.0 END AS s
            FROM e),
        q8 AS (
            SELECT vec_id,
                   list_transform(v, x -> CAST(round(x * s) AS BIGINT)) AS q
            FROM sc),
        norms AS (
            SELECT vec_id, sum(qv * qv) AS na2
            FROM (SELECT vec_id, unnest(q) AS qv FROM q8)
            GROUP BY vec_id),
        pairs AS (
            SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
                   qq.q AS qa, cc.q AS qb
            FROM q8 qq JOIN q8 cc ON cc.vec_id != qq.vec_id
            WHERE qq.vec_id < 20),
        dots AS (
            SELECT query_id, neighbor_id, sum(a * b) AS d
            FROM (SELECT query_id, neighbor_id,
                         unnest(qa) AS a, unnest(qb) AS b
                  FROM pairs)
            GROUP BY query_id, neighbor_id),
        scored AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY CAST(d AS DOUBLE)
                                / sqrt(CAST(na2 AS DOUBLE)) DESC,
                                neighbor_id) AS rk
            FROM dots JOIN norms ON norms.vec_id = neighbor_id
            WHERE na2 > 0)
        SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS rank
        FROM scored WHERE rk <= 5
    """

    # trained-IVF oracle: replay the ENTIRE training loop — stride init,
    # then per iteration (argmax-cosine assignment, integer-exact quantized
    # mean) — and finally the probe/rank. The quantized-sum construction
    # makes the centroids BIT-identical across engines (exact BIGINT sums,
    # two IEEE divisions of exactly-represented operands), so this is a
    # genuinely independent end-to-end recomputation of training.
    def _lloyd_iter(prev: str, n: int) -> str:
        return f"""
        a{n} AS (
            SELECT vec_id, cell FROM (
                SELECT e.vec_id, c.cell,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                                    c.cell) AS rk
                FROM e CROSS JOIN {prev} c) t
            WHERE rk = 1),
        m{n} AS (
            SELECT cell, i,
                   CAST(CAST(sum(q[i + 1]) AS BIGINT) AS DOUBLE)
                       / count(*) / 1048576.0 AS cval
            FROM a{n} JOIN vq USING (vec_id), range(64) r(i)
            GROUP BY cell, i),
        cent{n} AS (
            SELECT cell, list(cval ORDER BY i) AS cv FROM m{n} GROUP BY cell
            UNION ALL
            SELECT cell, cv FROM {prev}
            WHERE cell NOT IN (SELECT cell FROM m{n}))"""

    # training + final assignment chain, shared with the
    # cluster_balanced_sample oracle
    _ivf_train_ctes = f"""e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
        vq AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS q
            FROM embeddings),
        cent0 AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
            FROM (SELECT vec_id, v FROM e
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
        {_lloyd_iter('cent0', 1)},
        {_lloyd_iter('cent1', 2)},
        assign AS (
            SELECT vec_id, cell FROM (
                SELECT e.vec_id, c.cell,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                                    c.cell) AS rk
                FROM e CROSS JOIN cent2 c) t
            WHERE rk = 1)"""

    o["cluster_balanced_sample"] = f"""
        WITH {_ivf_train_ctes},
        sel AS (
            SELECT vec_id, CAST(cell AS INTEGER) AS cell,
                   row_number() OVER (
                       PARTITION BY cell
                       ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC,
                                vec_id ASC) AS rn
            FROM assign)
        SELECT vec_id, cell FROM sel WHERE rn <= 5
    """

    o["ivf_train_topk"] = f"""
        WITH {_ivf_train_ctes},
        probes AS (
            SELECT vec_id AS query_id, cell FROM (
                SELECT e.vec_id, c.cell,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                                    c.cell) AS rk
                FROM e CROSS JOIN cent2 c
                WHERE e.vec_id < 20) t
            WHERE rk <= 4),
        cand AS (
            SELECT p.query_id, a.vec_id AS neighbor_id
            FROM probes p JOIN assign a USING (cell)
            WHERE a.vec_id != p.query_id),
        scored AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY list_cosine_similarity(qe.v, ne.v) DESC,
                                neighbor_id) AS rk
            FROM cand
            JOIN e qe ON qe.vec_id = query_id
            JOIN e ne ON ne.vec_id = neighbor_id)
        SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS rank
        FROM scored WHERE rk <= 5
    """

    # embedding near-dup oracle: replay the SRP-LSH BLOCKING itself from
    # the seeded plane literals (8 tables × 8 planes — same machinery as
    # the lsh_topk oracle), then exact-verify candidates. The oracle now
    # states the operator's real contract — candidate-then-verify over
    # these specific buckets — instead of an exact all-pairs contract that
    # only held because test pairs sit at cosine ≈ 1.0.
    _dup_bkt_exprs = []
    for _t, _planes in enumerate(_srp_planes(DUP_TABLES, DUP_PLANES)):
        _bits = " + ".join(
            f"(CASE WHEN list_dot_product(v, {_plane_lit(_p)}) > 0"
            f" THEN {1 << _i} ELSE 0 END)"
            for _i, _p in enumerate(_planes))
        _dup_bkt_exprs.append(f"({_bits} + {_t << DUP_PLANES})")
    o["embedding_dup_pairs"] = f"""
        WITH u AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + 100000,
                   list_transform(embedding, x -> x * CAST(1.01 AS FLOAT))
            FROM embeddings),
        e AS (
            SELECT vec_id, embedding,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM u),
        b AS (
            SELECT vec_id, unnest([{", ".join(_dup_bkt_exprs)}]) AS bkt
            FROM e),
        cand AS (
            SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
            FROM b l JOIN b r ON l.bkt = r.bkt AND l.vec_id < r.vec_id)
        SELECT id_a, id_b
        FROM cand
        JOIN e ea ON ea.vec_id = id_a
        JOIN e eb ON eb.vec_id = id_b
        WHERE list_cosine_similarity(ea.embedding, eb.embedding) >= 0.95
    """
    return o
