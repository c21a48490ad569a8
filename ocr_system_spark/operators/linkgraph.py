"""Host-level link-graph centrality — PageRank over the crawl's host graph.

Public web-curation pipelines rank HOSTS before they rank documents:
Common Crawl publishes host-level link-graph centrality (PageRank /
harmonic centrality) with every crawl, and seed-quality filters in
CCNet/RefinedWeb-class pipelines consume exactly that signal to decide
which sites are worth keeping at all.  The reference system
(MokshaDill/OCR-System) processes each file in isolation and has no
notion of a link graph (`ocr/pipeline.py` never relates two inputs);
this operator supplies the graph tier a 100-TB crawl needs, as pure
Spark relational algebra — the classic "Pregel as iterated join" shape.

Determinism contract (the same integer-quantization idiom as
`operators/lm.py` / `operators/dsir.py`): ranks live in integer
micro-units of a fixed total mass ``RANK_SCALE`` (10^12), damping is
the exact rational 17/20, and every division is non-negative integer
division (Spark ``div`` ≡ DuckDB ``//`` on non-negative operands).  A
float PageRank is order-dependent under Spark's partial aggregation;
the integer form is bit-reproducible under any partitioning and
replayable verbatim by an independent SQL engine (the driver oracle
unrolls all iterations as CTEs, the `bpe_train` precedent).

Semantics (documented variant): per iteration

    r'(v) = base + (17 · Σ_{(u,v)∈E} (r(u)·w(u,v)) div outw(u)) div 20
    base  = ((RANK_SCALE div N) · 3) div 20

i.e. standard weighted PageRank with damping 0.85, where the mass of
DANGLING hosts (no outlinks) is dropped rather than redistributed —
the common relational simplification; totals shrink slightly but
ordering (the signal consumers use) is preserved.  Integer-division
remainders are likewise dropped, bounding each node's value within
``#inlinks + 2`` micro-units of the exact rational — far below the
~10^5-micro gaps the signal is used to discriminate.

Scale shape at 100 TB: the EDGE relation is host×host (pre-aggregated
by :func:`host_edges` — billions of rows, not the 10^12 document rows),
and the RANK relation is host-sized.  Each iteration is one src-keyed
join (rank joins edges+outweight on the src host) and one dst-keyed
aggregation — two bounded shuffles whose keys are hosts, never
documents; AQE broadcasts the rank side while it fits.  Every
``CHECKPOINT_EVERY`` rounds the ranks are localCheckpointed (the
`connected_components` precedent), so a long run does not replay all
earlier rounds, and releases the checkpoint before it once the new one
is pinned; a run shorter than that compiles into one Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_system_spark.persist import persist, release_checkpoint

__all__ = ["host_edges", "pagerank", "anchor_pairs", "anchor_host_stats"]

# Regex-as-spec (the functions/fields.py contract; RE2-safe subset so the
# oracle replays them verbatim): double-quoted hrefs, non-greedy anchor
# bodies, scheme-qualified host capture, tag-strip + pinned-ASCII
# whitespace collapse for the anchor text.
ANCHOR_PATTERN = '(?is)<a[\t\n\f\r ][^>]*href="([^"]*)"[^>]*>(.*?)</a>'
# PINNED SPEC: scheme matching and host capture are CASE-PRESERVING —
# 'HTTP://x' hrefs drop out and 'A.example' stays distinct from
# 'a.example'.  RFC 3986 treats scheme/host case as insignificant, but
# the case-sensitive form is the replayed oracle contract
# (tests/test_round5_graph_retrieval.py pins 'A.example' preserved);
# callers wanting RFC folding should lower() hrefs upstream.
HOST_PATTERN = "^https?://([^/]+)"

RANK_SCALE = 10**12
DAMP_NUM = 17
DAMP_DEN = 20
CHECKPOINT_EVERY = 8


def anchor_pairs(pages: DataFrame, id_col: str = "doc_id",
                 html_col: str = "html") -> DataFrame:
    """(id, host, text) — one row per absolute-href anchor in each page:
    target host from :data:`HOST_PATTERN` (relative/script hrefs drop
    out), anchor text tag-stripped and ASCII-whitespace-collapsed.
    Pure JVM expressions (regexp_extract_all + posexplode — no UDF, no
    shuffle); feeds :func:`anchor_host_stats` and, via the host column,
    :func:`host_edges`."""
    # ONE full-HTML regex pass (group 0 = whole anchor), then href/text
    # re-extracted from each short matched substring. Two full-document
    # passes (group-1 then group-2 extract_all) doubled the dominant
    # regex cost of the anchor tier at crawl scale. Bit-identical: the
    # pattern has no anchors/lookaround, so re-matching it on its own
    # full match is the same deterministic leftmost-lazy match and yields
    # the same groups (pinned by the pathological-HTML anchor tests and
    # the oracle's independent replay).
    anchors = F.regexp_extract_all(F.col(html_col), F.lit(ANCHOR_PATTERN), 0)
    clean = F.trim(F.regexp_replace(
        F.regexp_replace(F.col("_rawtext"), "<[^>]*>", ""),
        "[\t\n\f\r ]+", " "))
    return (pages
            .select(F.col(id_col).alias("id"),
                    F.explode(anchors).alias("_a"))
            .select("id",
                    F.regexp_extract(
                        F.regexp_extract(F.col("_a"), ANCHOR_PATTERN, 1),
                        HOST_PATTERN, 1).alias("host"),
                    F.regexp_extract(F.col("_a"), ANCHOR_PATTERN, 2)
                    .alias("_rawtext"))
            .filter(F.col("host") != "")
            .select("id", "host", clean.alias("text")))


def anchor_host_stats(pairs: DataFrame) -> DataFrame:
    """Per-target-host anchor aggregation — the classic search-quality
    signal (anchor text describes the TARGET page better than the target
    describes itself; host-level it summarizes what the web calls a
    site): (host, n_links, n_docs, top_text, top_text_count) with
    ``top_text`` the host's most frequent anchor text (ties break to the
    lexicographically smallest — deterministic on any engine).

    Scale shape: two host-keyed map-side-combined aggregations and one
    host-keyed row_number window over the (host, text) frequency
    relation (map-side WindowGroupLimit prunes to 1 row per partition
    per host); the join back to the totals is host-keyed on
    host-cardinality relations."""
    from pyspark.sql import Window as W

    totals = pairs.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_links"),
        F.countDistinct("id").cast("long").alias("n_docs"))
    freq = pairs.groupBy("host", "text").agg(
        F.count(F.lit(1)).cast("long").alias("c"))
    w = W.partitionBy("host").orderBy(F.col("c").desc(),
                                      F.col("text").asc())
    top = (freq.withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") == 1)
           .select("host", F.col("text").alias("top_text"),
                   F.col("c").alias("top_text_count")))
    return totals.join(top, "host")


def host_edges(links: DataFrame, src_col: str = "src",
               dst_col: str = "dst") -> DataFrame:
    """(src, dst, w) — the weighted host graph: one row per distinct
    directed host pair, ``w`` = number of underlying links.  Self-loops
    are dropped (a host linking itself carries no ranking signal and
    would let rank mass idle in place).  One host-pair-keyed
    aggregation; map-side combine collapses the per-document fan-out
    before the shuffle."""
    return (links
            .select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).cast("long").alias("w")))


def pagerank(edges: DataFrame, n_iter: int = 5) -> DataFrame:
    """(node, rank_micro) — ``n_iter`` rounds of integer-exact weighted
    PageRank (damping 17/20) over an ``(src, dst, w)`` edge relation
    (see module docstring for the exact recurrence and the dangling-mass
    variant).  Every node from either endpoint appears in the output.

    The node count is a bounded 1-row driver collect (the `lm.py` V /
    BPE-argmax contract); a lazy scalar relation would plan as the
    BroadcastNestedLoopJoin the fleet-wide plan gate bans."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")

    e = persist(edges.select("src", "dst", F.col("w").cast("long").alias("w")))
    nodes = persist(e.select(F.col("src").alias("node"))
                    .union(e.select(F.col("dst").alias("node")))
                    .distinct())
    n = int(nodes.count())
    if n == 0:
        return nodes.select("node", F.lit(0).cast("long")
                            .alias("rank_micro"))

    outw = e.groupBy("src").agg(F.sum("w").cast("long").alias("outw"))
    # src-keyed edge+outweight relation, built once and reused each round
    ew = persist(e.join(outw, "src"))

    init = RANK_SCALE // n
    base = (init * (DAMP_DEN - DAMP_NUM)) // DAMP_DEN
    ranks = nodes.select(
        "node", F.lit(init).cast("long").alias("rank_micro"))
    pinned = None
    for it in range(1, n_iter + 1):
        contrib = (ew.join(ranks.withColumnRenamed("node", "src"), "src")
                   .select("dst",
                           F.expr("(rank_micro * w) div outw").alias("c"))
                   .groupBy("dst")
                   .agg(F.sum("c").cast("long").alias("inc")))
        ranks = (nodes
                 .join(contrib.withColumnRenamed("dst", "node"),
                       "node", "left")
                 .select("node",
                         (F.lit(base)
                          + F.expr(f"({DAMP_NUM} * coalesce(inc, 0))"
                                   f" div {DAMP_DEN}"))
                         .cast("long").alias("rank_micro")))
        if it % CHECKPOINT_EVERY == 0 and it < n_iter:
            ranks = ranks.localCheckpoint(eager=True)
            # the new checkpoint holds every rank the old one fed it
            if pinned is not None:
                release_checkpoint(pinned)
            pinned = ranks
    # e/nodes/ew stay persisted for the returned plan, which references
    # them once per un-checkpointed round (identical subtrees also hit
    # ReusedExchange).
    return ranks
