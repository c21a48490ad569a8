"""Host-graph PageRank (operators/linkgraph.py) and BM25 retrieval
(operators/retrieval.py)."""
from __future__ import annotations

import math

import pytest

from ocr_system_spark.operators.linkgraph import (
    CHECKPOINT_EVERY,
    DAMP_DEN,
    DAMP_NUM,
    RANK_SCALE,
    anchor_host_stats,
    anchor_pairs,
    host_edges,
    pagerank,
)
from ocr_system_spark.operators.retrieval import bm25_topk


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string, w long")


def _py_pagerank(edges, n_iter):
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    n = len(nodes)
    outw: dict = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0) + w
    init = RANK_SCALE // n
    base = (init * (DAMP_DEN - DAMP_NUM)) // DAMP_DEN
    r = {v: init for v in nodes}
    for _ in range(n_iter):
        inc = {v: 0 for v in nodes}
        for s, d, w in edges:
            inc[d] += (r[s] * w) // outw[s]
        r = {v: base + (DAMP_NUM * inc[v]) // DAMP_DEN for v in nodes}
    return r


EDGES = [("a", "b", 3), ("a", "c", 1), ("b", "c", 2),
         ("c", "a", 1), ("d", "a", 5)]  # d is a source-only (no-inlink) node


class TestHostEdges:
    def test_aggregates_and_drops_self_loops(self, spark):
        links = spark.createDataFrame(
            [("a", "b"), ("a", "b"), ("a", "a"), ("b", "c")],
            "src string, dst string")
        got = {(r["src"], r["dst"]): r["w"]
               for r in host_edges(links).collect()}
        assert got == {("a", "b"): 2, ("b", "c"): 1}


class TestPagerank:
    def test_matches_python_mirror(self, spark):
        got = {r["node"]: r["rank_micro"]
               for r in pagerank(_edges(spark, EDGES), n_iter=3).collect()}
        assert got == _py_pagerank(EDGES, 3)

    def test_no_inlink_node_gets_base_only(self, spark):
        got = {r["node"]: r["rank_micro"]
               for r in pagerank(_edges(spark, EDGES), n_iter=2).collect()}
        init = RANK_SCALE // 4
        assert got["d"] == (init * (DAMP_DEN - DAMP_NUM)) // DAMP_DEN

    def test_mass_conserved_within_quantization(self, spark):
        """A closed cycle (no dangling nodes) keeps total mass within
        the integer-division drop bound: per iteration at most 1 unit
        per edge + DAMP_DEN per node is lost, never gained."""
        cyc = [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)]
        for it in (1, 4):
            total = sum(r["rank_micro"] for r in
                        pagerank(_edges(spark, cyc), n_iter=it).collect())
            assert RANK_SCALE - it * (3 + 3 * DAMP_DEN) <= total <= RANK_SCALE

    def test_partitioning_invariance(self, spark):
        df = _edges(spark, EDGES)
        a = sorted(map(tuple, pagerank(df, n_iter=2).collect()))
        b = sorted(map(tuple, pagerank(df.repartition(7), n_iter=2)
                       .collect()))
        assert a == b

    def test_empty_graph(self, spark):
        out = pagerank(_edges(spark, []), n_iter=3)
        assert out.collect() == []
        assert out.columns == ["node", "rank_micro"]

    def test_validation(self, spark):
        df = _edges(spark, EDGES)
        with pytest.raises(ValueError):
            pagerank(df, n_iter=0)

    def test_checkpoint_cadence_identical(self, spark):
        """A run that crosses the checkpoint cadence gives the exact ranks:
        the cadence is a lineage/latency knob, never a semantics knob."""
        n_iter = CHECKPOINT_EVERY + 1
        got = {r["node"]: r["rank_micro"]
               for r in pagerank(_edges(spark, EDGES), n_iter=n_iter)
               .collect()}
        assert got == _py_pagerank(EDGES, n_iter)


class TestAnchorPairs:
    def _pages(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, html string")

    def test_extracts_hosts_and_clean_text(self, spark):
        html = ('x <a href="https://A.example/p" rel="no">  link '
                '<b>to</b>\nhere </a> y '
                '<a href="/relative">skip</a> '
                '<A HREF="http://b.example">B</A> '
                '<a class="q" href="https://c.example/z"></a> plain')
        rows = anchor_pairs(self._pages(spark, [(7, html)])).collect()
        got = sorted((r["id"], r["host"], r["text"]) for r in rows)
        assert got == [(7, "A.example", "link to here"),
                       (7, "b.example", "B"),
                       (7, "c.example", "")]

    def test_no_anchors_and_null(self, spark):
        rows = anchor_pairs(self._pages(
            spark, [(0, "<p>none</p>"), (1, None)])).collect()
        assert rows == []

    def test_pathological_html_is_deterministic_regex_spec(self, spark):
        """Regex-as-spec behavior pinned on adversarial shapes: the
        non-greedy pattern takes the FIRST </a> (nested anchors yield
        one pair whose text is the outer prefix + inner markup up to the
        inner close), unclosed anchors match nothing, single-quoted
        hrefs match nothing (double-quote spec)."""
        cases = [
            (0, '<a href="https://x.y/">out <a href="https://z.w/">in</a>'
                ' tail</a>'),
            (1, '<a href="https://u.v/">never closed'),
            (2, "<a href='https://q.r/'>single quoted</a>"),
        ]
        rows = anchor_pairs(self._pages(spark, cases)).collect()
        got = sorted((r["id"], r["host"], r["text"]) for r in rows)
        # case 0: one match, href = outer, text = "out <a ...>in" with
        # tags stripped -> "out in"
        assert got == [(0, "x.y", "out in")]

    def test_host_stats_top_text_tiebreak(self, spark):
        pairs = spark.createDataFrame(
            [(0, "h", "b"), (1, "h", "a"), (1, "h", "b"), (2, "h", "a"),
             (3, "g", "z")],
            "id long, host string, text string")
        got = {r["host"]: (r["n_links"], r["n_docs"], r["top_text"],
                           r["top_text_count"])
               for r in anchor_host_stats(pairs).collect()}
        # 'a' and 'b' tie at 2 -> lexicographically smallest wins
        assert got == {"h": (4, 3, "a", 2), "g": (1, 1, "z", 1)}


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _queries(spark, rows):
    return spark.createDataFrame(rows, "query_id long, term string")


CORPUS = [
    (0, "the cat sat on the mat"),
    (1, "the dog sat on the log and the dog barked"),
    (2, "cat cat cat"),
    (3, "a completely different document entirely"),
    (4, None),
    (5, ""),
]


def _py_bm25(corpus, queries, k):
    toks = {i: t.lower().split() for i, t in corpus if t}
    toks = {i: t for i, t in toks.items() if t}
    n = len(toks)
    total = sum(len(t) for t in toks.values())
    tf = {(i, w): t.count(w) for i, t in toks.items() for w in set(t)}
    df: dict = {}
    for i, w in tf:
        df[w] = df.get(w, 0) + 1
    scores: dict = {}
    for qid, w in queries:
        if w not in df:
            continue
        for i, t in toks.items():
            if w not in t:
                continue
            idf = math.log(1.0 + (float(n) - df[w] + 0.5) / (df[w] + 0.5))
            tfn = (tf[i, w] * (1.2 + 1.0)
                   / (tf[i, w] + 1.2 * (1.0 - 0.75
                                        + 0.75 * (float(len(t)) * n
                                                  / total))))
            key = (qid, i)
            c = math.floor(abs(idf * tfn * 1e6) + 0.5)
            c = c if idf * tfn >= 0 else -c
            nt, sc = scores.get(key, (0, 0))
            scores[key] = (nt + 1, sc + c)
    out = []
    for qid in sorted({q for q, _ in queries}):
        rows = sorted(((i, nt, sc) for (q, i), (nt, sc) in scores.items()
                       if q == qid), key=lambda r: (-r[2], r[0]))
        out += [(qid, i, nt, sc, rn + 1)
                for rn, (i, nt, sc) in enumerate(rows[:k])]
    return sorted(out)


class TestBm25:
    QUERIES = [(0, "cat"), (0, "mat"), (1, "dog"), (2, "zebra")]

    def test_matches_python_mirror(self, spark):
        got = sorted((r["query_id"], r["id"], r["n_terms"],
                      r["score_micro"], r["rn"])
                     for r in bm25_topk(_docs(spark, CORPUS),
                                        _queries(spark, self.QUERIES),
                                        k=10).collect())
        assert got == _py_bm25(CORPUS, self.QUERIES, 10)

    def test_k_limits_per_query(self, spark):
        out = bm25_topk(_docs(spark, CORPUS),
                        _queries(spark, self.QUERIES), k=1).collect()
        per_q = {}
        for r in out:
            per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
        assert all(v == 1 for v in per_q.values())
        # top doc for query 0 matches BOTH terms (cat + mat) and beats
        # the single-term cat-only doc
        assert [r["id"] for r in out if r["query_id"] == 0] == [0]

    def test_unknown_term_query_yields_nothing(self, spark):
        out = bm25_topk(_docs(spark, CORPUS),
                        _queries(spark, [(9, "zebra")]), k=5).collect()
        assert out == []

    def test_empty_corpus_keeps_schema(self, spark):
        out = bm25_topk(_docs(spark, [(0, None)]),
                        _queries(spark, [(0, "cat")]), k=5)
        assert out.collect() == []
        assert out.columns == ["query_id", "id", "n_terms",
                               "score_micro", "rn"]

    def test_validation(self, spark):
        with pytest.raises(ValueError):
            bm25_topk(_docs(spark, CORPUS),
                      _queries(spark, self.QUERIES), k=0)

    def test_partitioning_invariance(self, spark):
        d = _docs(spark, CORPUS)
        q = _queries(spark, self.QUERIES)
        a = sorted(map(tuple, bm25_topk(d, q, k=10).collect()))
        b = sorted(map(tuple,
                       bm25_topk(d.repartition(5), q, k=10).collect()))
        assert a == b

    def test_plan_has_windowgrouplimit_and_broadcast(self, spark):
        plan = (bm25_topk(_docs(spark, CORPUS),
                          _queries(spark, self.QUERIES), k=3)
                ._jdf.queryExecution().executedPlan().toString())
        assert "WindowGroupLimit" in plan
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_scan_plan_never_shuffles_corpus_by_id(self, spark):
        """The scan's exchanges are matched-rows-sized (score agg, df
        agg, top-k) — never a corpus-wide id-keyed shuffle (no
        hashpartitioning(id) over the corpus)."""
        plan = (bm25_topk(_docs(spark, CORPUS),
                          _queries(spark, self.QUERIES), k=3)
                ._jdf.queryExecution().executedPlan().toString())
        assert "hashpartitioning(id#" not in plan
