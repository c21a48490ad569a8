"""Link-graph and retrieval queries: host and page PageRank, anchor text,
the site table, the URL blocklist and BM25 top-k."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_system_spark.operators.linkgraph import (
    anchor_host_stats, anchor_pairs, host_edges, pagerank)
from ocr_system_spark.operators.quality_model import (
    hashed_linear_score, host_quality_blocklist)
from ocr_system_spark.operators.retrieval import bm25_topk
from ocr_system_spark.operators.urls import url_blocklist_filter
from ocr_system_spark.sources import tables

from ._shared import WEIGHT_SQL, Builder


def queries() -> dict[str, Builder]:
    q: dict[str, Builder] = {}

    def q_url_blocklist(spark, sf_dir):
        """RefinedWeb-style URL filtering over deterministic URLs: a
        broadcast domain blocklist that must also catch SUBDOMAINS of a
        blocked registered domain (suffix explode + semi-join), plus a
        soft flagged-word score on the URL string (casino/poker, drop at
        ≥2 hits). Kept rows with host + score; the oracle replays host
        extraction, suffix matching, and the word score in SQL."""
        d = tables.load(spark, sf_dir, "documents")
        k = F.col("doc_id").cast("string")
        j = (F.col("doc_id") % 10).cast("string")
        url = (
            F.when(F.col("doc_id") % 6 == 0,
                   F.concat(F.lit("https://ads.tracker"), j,
                            F.lit(".com/banner?x="), k))
            .when(F.col("doc_id") % 6 == 1,
                  F.concat(F.lit("https://sub.shop"), j,
                           F.lit(".example/p/"), k))
            .when(F.col("doc_id") % 6 == 2,
                  F.concat(F.lit("http://news.site"), j,
                           F.lit(".org/story/"), k))
            .when(F.col("doc_id") % 6 == 3,
                  F.concat(F.lit("https://CASINO-fun.win/games/"), k))
            .when(F.col("doc_id") % 6 == 4,
                  F.concat(F.lit("http://spam.casino-poker.bet/free-casino?x="), k))
            .otherwise(
                F.concat(F.lit("https://cdn.tracker"), j,
                         F.lit(".com:8080/asset/"), k)))
        blocked = spark.createDataFrame(
            [(f"tracker{i}.com",) for i in range(10)] + [("bad.example",)],
            "host string")
        kept = url_blocklist_filter(
            d.select("doc_id", url.alias("url")), blocked,
            soft_words=["casino", "poker"], max_soft_hits=1)
        return kept.select("doc_id", "url", "host",
                           F.col("n_soft_hits").cast("int").alias("n_soft_hits"))

    q["url_blocklist"] = q_url_blocklist

    def q_host_pagerank(spark, sf_dir):
        """Host link-graph centrality (the Common-Crawl host-rank signal):
        5 rounds of integer-exact weighted PageRank (damping 17/20, ranks
        in micro-units of a 10^12 total mass) over a deterministic host
        graph — each doc on host h(doc_id % 23) links three arithmetic-
        derived hosts.  The oracle unrolls all 5 iterations as CTEs (the
        bpe_train precedent).  Plan: host-keyed joins/aggs only — the
        corpus-sized relation is touched once to build the edge list
        (operators/linkgraph.py)."""
        d = tables.load(spark, sf_dir, "documents").select("doc_id")
        links = (d.select(
            F.concat(F.lit("h"), (F.col("doc_id") % 23).cast("string"))
            .alias("src"),
            F.explode(F.array(
                (F.col("doc_id") * 7 + 1) % 23,
                (F.col("doc_id") * 11 + 3) % 23,
                (F.col("doc_id") * 13 + 5) % 23)).alias("dn"))
            .select("src", F.concat(F.lit("h"), F.col("dn").cast("string"))
                    .alias("dst")))
        return (pagerank(host_edges(links), n_iter=5)
                .select(F.col("node").alias("host"), "rank_micro"))

    q["host_pagerank"] = q_host_pagerank

    def q_bm25_topk(spark, sf_dir):
        """BM25 top-10 retrieval for a 4-query workload over the documents
        corpus: per (query-term, doc) contribution quantized to integer
        micros before the per-doc sum (lm.py idiom), per-query top-k via
        the map-side WindowGroupLimit window.  The oracle replays index
        build + scoring + ranking end-to-end (operators/retrieval.py)."""
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        queries_df = spark.createDataFrame(
            [(0, "table"), (0, "scan"), (1, "hash"), (1, "merge"),
             (2, "sort"), (2, "window"), (3, "spark"), (3, "fast"),
             (3, "line")],
            "query_id long, term string")
        return bm25_topk(d, queries_df, k=10)

    q["bm25_topk"] = q_bm25_topk

    def _anchor_pages(d):
        """(doc_id, html): each page links h((3·id+1) % 11) and
        h((5·id+2) % 11), and every 7th a relative href that drops out;
        the oracles' ``_anchor_ctes`` build the same pages."""
        html = F.concat(
            F.lit('<p>See <a href="https://h'),
            ((F.col("doc_id") * 3 + 1) % 11).cast("string"),
            F.lit('.example/p/'), F.col("doc_id").cast("string"),
            F.lit('" class="l">  link <b>to</b>\nsite '),
            ((F.col("doc_id") * 3 + 1) % 11).cast("string"),
            F.lit(' </a> and <a href="http://h'),
            ((F.col("doc_id") * 5 + 2) % 11).cast("string"),
            F.lit('.example/q">Ref '),
            (F.col("doc_id") % 4).cast("string"),
            F.lit('</a>'),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit('<a href="/rel/skip">rel</a>'))
            .otherwise(F.lit("")),
            F.lit('</p>'))
        return d.select("doc_id", html.alias("html"))

    def _page_host(c):
        return F.concat(F.lit("h"), (c % 11).cast("string"),
                        F.lit(".example"))

    def _page_ranks(pairs):
        """5 PageRank rounds over the hosts, page h(id % 11).example
        linking each of its anchors' hosts."""
        links = pairs.select(_page_host(F.col("id")).alias("src"),
                             F.col("host").alias("dst"))
        return (pagerank(host_edges(links), n_iter=5)
                .select(F.col("node").alias("host"), "rank_micro"))

    def q_anchor_hosts(spark, sf_dir):
        """Anchor-text aggregation per target host (the classic search-
        quality signal: anchor text describes the TARGET): anchors
        extracted from deterministically constructed pages by pure JVM
        regexp expressions (operators/linkgraph.py::anchor_pairs —
        relative hrefs drop out), then per-host totals + the most
        frequent anchor text (ties to smallest, deterministic).  The
        oracle replays construction, both regex passes, and the
        frequency window verbatim."""
        d = tables.load(spark, sf_dir, "documents").select("doc_id")
        return anchor_host_stats(anchor_pairs(_anchor_pages(d)))

    q["anchor_hosts"] = q_anchor_hosts

    def q_page_link_pagerank(spark, sf_dir):
        """The link-graph tier END-TO-END: pages → anchor extraction
        (pure-JVM regexp) → weighted host graph → 5 rounds of
        integer-exact PageRank.  Each page's own host is h(doc_id %
        11).example, so the graph is the REAL extracted one — the oracle
        composes the anchor-extraction CTEs with the unrolled PageRank
        iteration chain (both shared with their standalone queries)."""
        d = tables.load(spark, sf_dir, "documents").select("doc_id")
        return _page_ranks(anchor_pairs(_anchor_pages(d)))

    q["page_link_pagerank"] = q_page_link_pagerank

    def q_site_table(spark, sf_dir):
        """The SITE CURATION TABLE — the per-host artifact a RefinedWeb-
        class pipeline maintains: link-graph PageRank (from extracted
        anchors), host-rolled quality (integer-exact mean threshold),
        and anchor in-link counts, joined on one shared host space
        (h(doc_id % 11).example).  Three host-sized relations, host-keyed
        joins; the oracle composes the anchor, PageRank, and blocklist
        CTE chains already proven standalone."""
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        pairs = anchor_pairs(_anchor_pages(d))
        pr = _page_ranks(pairs)
        scored = hashed_linear_score(d)
        hq = host_quality_blocklist(
            scored.select(_page_host(F.col("id")).alias("host"), "score"),
            threshold_num=-5, threshold_den=1)
        at = pairs.groupBy("host").agg(
            F.count(F.lit(1)).cast("long").alias("n_inlinks"))
        return pr.join(hq, "host").join(at, "host")

    q["site_table"] = q_site_table

    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    # url_blocklist: replay host extraction (same RE2 pattern), the
    # longest-first suffix relation, blocklist membership incl.
    # subdomains, and the soft flagged-word score.
    o["url_blocklist"] = r"""
        WITH u AS (
            SELECT doc_id, CASE CAST(doc_id % 6 AS INTEGER)
                WHEN 0 THEN 'https://ads.tracker' || CAST(doc_id % 10 AS VARCHAR)
                            || '.com/banner?x=' || CAST(doc_id AS VARCHAR)
                WHEN 1 THEN 'https://sub.shop' || CAST(doc_id % 10 AS VARCHAR)
                            || '.example/p/' || CAST(doc_id AS VARCHAR)
                WHEN 2 THEN 'http://news.site' || CAST(doc_id % 10 AS VARCHAR)
                            || '.org/story/' || CAST(doc_id AS VARCHAR)
                WHEN 3 THEN 'https://CASINO-fun.win/games/'
                            || CAST(doc_id AS VARCHAR)
                WHEN 4 THEN 'http://spam.casino-poker.bet/free-casino?x='
                            || CAST(doc_id AS VARCHAR)
                ELSE 'https://cdn.tracker' || CAST(doc_id % 10 AS VARCHAR)
                     || '.com:8080/asset/' || CAST(doc_id AS VARCHAR)
            END AS url
            FROM documents),
        h AS (
            SELECT doc_id, url,
                   lower(regexp_extract(trim(url),
                       '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)',
                       1)) AS host,
                   (CASE WHEN contains(lower(url), 'casino') THEN 1 ELSE 0 END
                    + CASE WHEN contains(lower(url), 'poker') THEN 1 ELSE 0 END)
                   AS n_soft_hits
            FROM u),
        s AS (
            SELECT *, string_split(host, '.') AS parts FROM h),
        blocked AS (
            SELECT ['tracker0.com','tracker1.com','tracker2.com',
                    'tracker3.com','tracker4.com','tracker5.com',
                    'tracker6.com','tracker7.com','tracker8.com',
                    'tracker9.com','bad.example'] AS bl)
        SELECT doc_id, url, host, CAST(n_soft_hits AS INTEGER) AS n_soft_hits
        FROM s, blocked
        WHERE NOT list_has_any(
                list_transform(range(1, len(parts) + 1),
                               i -> array_to_string(parts[i:], '.')),
                bl)
          AND n_soft_hits <= 1
    """

    # host PageRank: all 5 integer-exact iterations unrolled as CTEs (the
    # bpe_train precedent) — base = ((scale//N)*3)//20, damping 17/20,
    # per-edge contribution (r*w)//outw, dangling mass dropped.  The
    # iteration chain (everything after the `e` edge CTE) is shared with
    # the page_link_pagerank composition oracle.
    def _pr_iter_ctes(n_iter: int) -> str:
        parts = ["""
        nodes AS (SELECT DISTINCT node
                  FROM (SELECT src AS node FROM e
                        UNION ALL SELECT dst FROM e)),
        nn AS (SELECT count(*) AS n FROM nodes),
        ow AS (SELECT src, sum(w) AS outw FROM e GROUP BY 1),
        r0 AS (SELECT node,
                      CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT)
                      AS r
               FROM nodes)"""]
        for k in range(n_iter):
            parts.append(f"""
        c{k} AS (SELECT dst, sum((r * w) // outw) AS inc
                  FROM e JOIN r{k} ON e.src = r{k}.node
                         JOIN ow ON e.src = ow.src
                  GROUP BY dst),
        r{k + 1} AS (SELECT nodes.node,
                      CAST(((1000000000000 // (SELECT n FROM nn)) * 3) // 20
                           + (17 * coalesce(inc, 0)) // 20 AS BIGINT) AS r
               FROM nodes LEFT JOIN c{k} ON nodes.node = c{k}.dst)""")
        return ",".join(parts)

    o["host_pagerank"] = ("""
        WITH links AS (
            SELECT 'h' || CAST(doc_id % 23 AS VARCHAR) AS src,
                   'h' || CAST(dn AS VARCHAR) AS dst
            FROM (SELECT doc_id,
                         unnest([(doc_id * 7 + 1) % 23,
                                 (doc_id * 11 + 3) % 23,
                                 (doc_id * 13 + 5) % 23]) AS dn
                  FROM documents)),
        e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
              FROM links WHERE src <> dst GROUP BY 1, 2),"""
        + _pr_iter_ctes(5) + """
        SELECT node AS host, r AS rank_micro FROM r5
    """)

    # BM25: index build + scoring replayed end-to-end; the double-math
    # expression below mirrors operators/retrieval.py token-for-token
    # (pinned operation order) and each contribution is rounded to micros
    # BEFORE the per-doc sum, so the score is an exact integer aggregate
    o["bm25_topk"] = """
        WITH tf AS (
            SELECT id, term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id AS id,
                         unnest(regexp_extract_all(
                             translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                             'abcdefghijklmnopqrstuvwxyz'),
                             '[^\t\n\f\r ]+')) AS term
                  FROM documents)
            GROUP BY 1, 2),
        dl AS (SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST((SELECT sum(tf) FROM tf) AS BIGINT) AS l
               FROM dl),
        dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                FROM tf GROUP BY 1),
        q AS (SELECT CAST(query_id AS BIGINT) AS query_id, term
              FROM (VALUES (0, 'table'), (0, 'scan'), (1, 'hash'),
                           (1, 'merge'), (2, 'sort'), (2, 'window'),
                           (3, 'spark'), (3, 'fast'), (3, 'line'))
                   AS v(query_id, term)),
        m AS (SELECT q.query_id, tf.id, tf.tf, dl.dl, dfr.df,
                     (SELECT n FROM st) AS n, (SELECT l FROM st) AS l
              FROM tf JOIN q USING (term)
                      JOIN dfr USING (term)
                      JOIN dl USING (id)),
        c AS (SELECT query_id, id,
                     CAST(round(
                         ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5)
                                  / (df + 0.5))
                         * (tf * (1.2 + 1.0)
                            / (tf + 1.2 * (1.0 - 0.75
                                + 0.75 * (CAST(dl AS DOUBLE) * n / l))))
                         * 1000000) AS BIGINT) AS c
              FROM m),
        s AS (SELECT query_id, id, CAST(count(*) AS BIGINT) AS n_terms,
                     CAST(sum(c) AS BIGINT) AS score_micro
              FROM c GROUP BY 1, 2),
        r AS (SELECT query_id, id, n_terms, score_micro,
                     CAST(row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY score_micro DESC, id ASC) AS INTEGER)
                     AS rn
              FROM s)
        SELECT * FROM r WHERE rn <= 10
    """

    _anchor_pat = '(?is)<a[\t\n\f\r ][^>]*href="([^"]*)"[^>]*>(.*?)</a>'
    # page construction + anchor extraction CTEs, shared by anchor_hosts
    # and the page_link_pagerank composition
    _anchor_ctes = f"""p AS (
            SELECT doc_id,
                   '<p>See <a href="https://h'
                   || CAST((doc_id * 3 + 1) % 11 AS VARCHAR)
                   || '.example/p/' || CAST(doc_id AS VARCHAR)
                   || '" class="l">  link <b>to</b>' || chr(10) || 'site '
                   || CAST((doc_id * 3 + 1) % 11 AS VARCHAR)
                   || ' </a> and <a href="http://h'
                   || CAST((doc_id * 5 + 2) % 11 AS VARCHAR)
                   || '.example/q">Ref ' || CAST(doc_id % 4 AS VARCHAR)
                   || '</a>'
                   || CASE WHEN doc_id % 7 = 0
                           THEN '<a href="/rel/skip">rel</a>' ELSE '' END
                   || '</p>' AS html
            FROM documents),
        arrs AS (SELECT doc_id,
                        regexp_extract_all(html, '{_anchor_pat}', 1) AS hr,
                        regexp_extract_all(html, '{_anchor_pat}', 2) AS tx
                 FROM p),
        pairs0 AS (SELECT doc_id, hr[CAST(i AS INTEGER)] AS href,
                          tx[CAST(i AS INTEGER)] AS rawtext
                   FROM (SELECT doc_id, hr, tx,
                                unnest(range(1, len(hr) + 1)) AS i
                         FROM arrs)),
        pairs AS (SELECT doc_id AS id,
                         regexp_extract(href, '^https?://([^/]+)', 1)
                             AS host,
                         trim(regexp_replace(
                             regexp_replace(rawtext, '<[^>]*>', '', 'g'),
                             '[\t\n\f\r ]+', ' ', 'g')) AS text
                  FROM pairs0
                  WHERE regexp_extract(href, '^https?://([^/]+)', 1)
                        <> '')"""

    o["anchor_hosts"] = f"""
        WITH {_anchor_ctes},
        t AS (SELECT host, CAST(count(*) AS BIGINT) AS n_links,
                     CAST(count(DISTINCT id) AS BIGINT) AS n_docs
              FROM pairs GROUP BY 1),
        f AS (SELECT host, text, count(*) AS c FROM pairs GROUP BY 1, 2),
        tp AS (SELECT host, text AS top_text,
                      CAST(c AS BIGINT) AS top_text_count,
                      row_number() OVER (PARTITION BY host
                                         ORDER BY c DESC, text ASC) AS rn
               FROM f)
        SELECT t.host, n_links, n_docs, top_text, top_text_count
        FROM t JOIN tp USING (host) WHERE rn = 1
    """

    # the page graph's unrolled PageRank: anchor_pairs hosts, each page
    # on h(id % 11).example
    _page_rank_ctes = (f"""
        WITH {_anchor_ctes},
        links AS (SELECT 'h' || CAST(id % 11 AS VARCHAR) || '.example'
                             AS src,
                         host AS dst
                  FROM pairs),
        e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
              FROM links WHERE src <> dst GROUP BY 1, 2),"""
        + _pr_iter_ctes(5))
    o["page_link_pagerank"] = _page_rank_ctes + """
        SELECT node AS host, r AS rank_micro FROM r5
    """

    o["site_table"] = (_page_rank_ctes + f""",
        tok AS (
            SELECT doc_id AS id,
                   unnest(regexp_extract_all(
                       translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                       'abcdefghijklmnopqrstuvwxyz'),
                       '[^\t\n\f\r ]+')) AS term
            FROM documents),
        wt AS (SELECT id, CAST({WEIGHT_SQL} AS BIGINT) AS w FROM tok),
        ds AS (SELECT id, CAST(sum(w) AS BIGINT) AS score
               FROM wt GROUP BY id),
        hq AS (SELECT 'h' || CAST(id % 11 AS VARCHAR) || '.example'
                          AS host,
                      CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(score) AS BIGINT) AS score_sum,
                      sum(score) * 1 < -5 * count(*) AS blocked
               FROM ds GROUP BY 1),
        at AS (SELECT host, CAST(count(*) AS BIGINT) AS n_inlinks
               FROM pairs GROUP BY 1)
        SELECT r5.node AS host, r5.r AS rank_micro,
               n_docs, score_sum, blocked, n_inlinks
        FROM r5 JOIN hq ON hq.host = r5.node
                JOIN at ON at.host = r5.node
    """)
    return o
