"""Connected components (dedup clustering) + Gopher-style quality gates."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from ocr_system_spark.operators.components import connected_components
from ocr_system_spark.operators.textstats import (
    with_gopher_quality, with_repetition_stats)


def _union_find_truth(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component id = min member id
    comp_min: dict = {}
    for x in range(n_nodes):
        r = find(x)
        comp_min.setdefault(r, x)   # nodes ascend, first seen is min
    return {x: comp_min[find(x)] for x in range(n_nodes)}


def test_components_match_union_find_on_random_graph(spark):
    rng = random.Random(7)
    n = 200
    edges = sorted({tuple(sorted(rng.sample(range(n), 2))) for _ in range(150)})
    truth = _union_find_truth(n, edges)
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    nodes = spark.range(n).withColumnRenamed("id", "id")
    got = {r.id: r.comp for r in connected_components(e, nodes=nodes).collect()}
    assert got == truth


def test_components_long_chain_converges(spark):
    """A 40-node path graph has diameter 39 — min-label propagation halves
    the frontier distance per round only along edges, so this exercises the
    multi-round fixpoint loop (and the max_iter guard must not bite)."""
    edges = [(i, i + 1) for i in range(39)]
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.comp for r in connected_components(e, max_iter=50).collect()}
    assert got == {i: 0 for i in range(40)}


def test_components_singletons_and_isolated(spark):
    e = spark.createDataFrame([(10, 11)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(5,), (10,), (11,), (99,)], "id long")
    got = {r.id: r.comp for r in connected_components(e, nodes=nodes).collect()}
    assert got == {5: 5, 10: 10, 11: 10, 99: 99}


def test_repetition_stats_values(spark):
    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "x"), (3, ""), (4, "w w w w")],
        "doc_id long, text string")
    got = {r.doc_id: (r.total_bigrams, r.distinct_bigrams)
           for r in with_repetition_stats(df).collect()}
    # "a b a b c": bigrams ab,ba,ab,bc -> 4 total, 3 distinct
    assert got == {1: (4, 3), 2: (0, 0), 3: (0, 0), 4: (3, 1)}


def test_gopher_gates(spark):
    good = "the quick brown fox and that dog have fun with words " * 5  # 55 words
    short = "the and of"
    no_stops = "alpha beta gamma delta " * 15
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, no_stops)], "doc_id long, text string")
    got = {r.doc_id: (r.n_words, r.n_stop_hits, r.gopher_pass)
           for r in with_gopher_quality(df, min_words=50).collect()}
    assert got[1][2] is True and got[1][1] >= 2
    assert got[2] == (3, 3, False)          # too short
    assert got[3][2] is False               # no stopwords


def test_pii_scrub_cases(spark):
    from ocr_system_spark.operators.scrub import with_pii_scrubbed
    rows = [
        (1, "mail a.b+c_d%e@sub.domain.org now"),
        (2, "two bob@x.io and eve@y.co, done"),
        (3, "server at 192.168.0.1:8080 up"),
        (4, "call +44 (123) 456-7890 or 555-123-4567"),
        (5, "no pii here at all"),
        (6, "not-an-email @missing.local and 1.2.3 short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in with_pii_scrubbed(df).collect()}
    assert got[1].scrubbed == "mail [EMAIL] now" and got[1].n_email == 1
    assert got[2].scrubbed == "two [EMAIL] and [EMAIL], done" and got[2].n_email == 2
    assert got[3].scrubbed == "server at [IP]:8080 up" and got[3].n_ipv4 == 1
    assert got[4].n_phone == 2
    assert got[4].scrubbed == "call [PHONE] or [PHONE]"
    assert got[5].scrubbed == rows[4][1]                # untouched
    assert got[6].n_email == 0 and got[6].n_ipv4 == 0


def test_components_raise_rather_than_return_unconverged(spark):
    import pytest as _pytest
    edges = [(i, i + 1) for i in range(30)]     # path: diameter 29
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e, max_iter=3)


def test_components_ignore_edges_outside_nodes(spark):
    """Components are those of the subgraph induced by ``nodes``: node 0 is
    not in the universe, so it can neither be returned nor be a label."""
    e = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(1,), (2,)], "id long")
    got = {r.id: r.comp
           for r in connected_components(e, nodes=nodes).collect()}
    assert got == {1: 1, 2: 1}


def test_components_release_superseded_checkpoints(spark):
    """Each round's checkpoint is released once the next is pinned, and
    the symmetrized edges before returning: a converged call leaves one
    persistent RDD, the returned labels, and a call that raises leaves
    none. ``clearCache()`` cannot reach a local checkpoint."""
    import pytest as _pytest
    jsc = spark.sparkContext._jsc

    def persistent():
        return set(jsc.getPersistentRDDs().keySet())

    edges = [(i, i + 1) for i in range(6)]      # path: needs ≥2 rounds
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    before = persistent()
    labels = connected_components(e)
    assert len(persistent() - before) == 1
    assert {r.comp for r in labels.collect()} == {0}

    before = persistent()
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e, max_iter=1)
    assert persistent() - before == set()
