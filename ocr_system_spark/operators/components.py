"""Connected components over the near-duplicate pair graph — the step that
turns pairwise dedup output into KEEP/DROP decisions (each component keeps
one representative; production web-dedup pipelines run exactly this after
MinHash/SimHash pair generation).

Algorithm: iterative min-label propagation — each node's label becomes the
minimum label among itself and its neighbors, repeated to fixpoint. Rounds
needed = graph diameter. Near-dup components are near-cliques (every member
pairs with most others), so the diameter is tiny (2-3) and propagation
converges in a handful of shuffles; each round is one join + one groupBy on
the edge list, both partitioned by node id. This is the one components
algorithm here. The known swap for general graphs with long chains at
10^12-edge scale is the alternating large-star/small-star rounds (Kiveris
et al., "Connected Components in MapReduce and Beyond", SoCC'14) — same
join shape, provably O(log n) rounds, with an unchanged-edge-set fixpoint;
the fixpoint loop and convergence accounting here carry over unchanged.

Every round materializes via localCheckpoint: it truncates the growing
lineage (a 10-round loop would otherwise re-execute round 1 ten times) and
gives the convergence check a concrete relation to count against. A
round's checkpoint is released once the next one is pinned, so a call
leaves only the returned labels' checkpoint behind.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_system_spark.persist import release_checkpoint


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: Optional[DataFrame] = None,
    id_col: str = "id",
    max_iter: int = 25,
) -> DataFrame:
    """(id, comp) for every node, comp = min node id in its component.

    ``edges`` is an undirected pair list (each pair once, either order).
    ``nodes`` optionally supplies the full node universe — nodes with no
    edges come back as their own singleton component (what a dedup pipeline
    needs: every document gets a cluster id). Components are then those of
    the subgraph induced by ``nodes``: an edge touching an id outside
    ``nodes`` is ignored, and such ids never appear as labels.

    Min-label propagation: rounds = diameter, right for near-clique dedup
    graphs. The first round is fused into initialization, so up to
    ``max_iter``+1 rounds run in effect.
    """
    # Materialize the symmetrized edge list ONCE, reading ``edges`` once:
    # the propagation loop joins `sym` every round, and without the
    # checkpoint the whole upstream edge plan (for dedup output: the LSH
    # band self-join + exact-verify joins) re-executes per iteration; a
    # union of two selects would additionally execute that plan twice
    # inside this one job (guide §2.4 — remove repeated work behind an
    # iteration boundary; §2.3 — both orientations come from one scan via
    # explode).
    sym = (
        edges.select(F.explode(F.array(
            F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
            F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
        )).alias("e"))
        .select(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    node_ids = sym.select(F.col("u").alias(id_col)).distinct()
    nbr_edges = sym
    if nodes is not None:
        node_ids = nodes.select(F.col(id_col)).distinct()
        # the loop's inner join on labels already skips neighbours outside
        # `nodes`; the fused first round must too, or such an id becomes a
        # label
        nbr_edges = sym.join(nodes.select(F.col(id_col).alias("v")), "v",
                             "left_semi")

    # Fused round 1: with every label initialized to its own id, the first
    # propagation round's neighbor-min is just min(neighbor ids) — one
    # groupBy + left join at init time instead of a full join round with
    # its own checkpoint and convergence count. Labels after this are
    # exactly what the old loop produced after its first iteration, so the
    # fixpoint (and the returned labels) are unchanged.
    nbr0 = nbr_edges.groupBy("u").agg(F.min("v").alias("_m"))
    labels = (
        node_ids.join(nbr0, node_ids[id_col] == nbr0.u, "left")
        .select(F.col(id_col),
                F.least(F.col(id_col),
                        F.coalesce(F.col("_m"), F.col(id_col))).alias("comp"))
        .localCheckpoint(eager=True)
    )
    pinned = labels

    changed = 0
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.v == labels[id_col])
            .groupBy("u").agg(F.min("comp").alias("nbr_comp"))
        )
        new_labels = (
            labels.join(nbr_min, labels[id_col] == nbr_min.u, "left")
            .select(
                F.col(id_col),
                F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp")))
                .alias("comp"),
                F.col("comp").alias("_old"),
            )
        ).localCheckpoint(eager=True)
        release_checkpoint(pinned)
        pinned = new_labels
        changed = new_labels.filter(F.col("comp") != F.col("_old")).count()
        labels = new_labels.drop("_old")
        if changed == 0:
            break
    release_checkpoint(sym)
    if changed != 0:
        release_checkpoint(pinned)
        # an unconverged label set is silently WRONG (some nodes still carry
        # a non-minimal component id) — refuse to return it
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            f"rounds ({changed} labels still moving). The graph has longer "
            "chains than min-label propagation handles in this budget — "
            "raise max_iter, or swap in the large-star/small-star rounds of "
            "Kiveris et al. (SoCC'14) for O(log n) rounds on arbitrary graphs.")
    return labels


def keep_best(
    scored: DataFrame,
    clusters: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    cluster_id_col: str = "id",
    comp_col: str = "comp",
) -> DataFrame:
    """Quality-aware keep-one-per-cluster: for every dedup component keep
    the member with the HIGHEST ``score_col`` (ties → minimum id — total
    order, engine-independent). This is the policy a real training-data
    pipeline ships — min-id keep-one (the `curation_pipeline` baseline)
    discards quality information the pipeline already computed.

    ``scored``: one row per document incl. ``id_col`` and ``score_col``
    (any extra columns ride along). ``clusters``: the (id, comp) labels
    from ``connected_components``.

    Plan: one equi-join on the id + ONE window over the component key —
    a single shuffle on ``comp``; no self-join, no collect. At 10^12 docs
    the component key is the content-cluster id, whose cardinality is
    ~n_docs (mostly singletons), so the window partitions stay tiny; a
    viral cluster of G members is one partition of G rows — bounded by
    the dedup stage's own cluster sizes, not by corpus size."""
    from pyspark.sql import Window as W

    joined = scored.join(
        clusters.select(F.col(cluster_id_col).alias(id_col), comp_col),
        id_col)
    w = W.partitionBy(comp_col).orderBy(F.col(score_col).desc(), F.col(id_col))
    return (joined.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))
