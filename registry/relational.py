"""Relational queries on the TPC-H-style tables and the events table:
joins, aggregates, windows, set operations, sessionization, the as-of
join and the crawl diff."""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ocr_system_spark.operators.asof import asof_join
from ocr_system_spark.operators.snapshots import crawl_diff
from ocr_system_spark.sources import tables
from ocr_system_spark.streaming.sessionize import sessionize_batch

from ._shared import Builder


def queries() -> dict[str, Builder]:
    q: dict[str, Builder] = {}

    def q_agg_pricing(spark, sf_dir):
        li = tables.load(spark, sf_dir, "lineitem")
        return (
            li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.sum("l_extendedprice").alias("sum_base_price"),
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
                F.avg("l_discount").alias("avg_disc"),
                F.count(F.lit(1)).alias("count_order"),
            )
            .orderBy("l_returnflag", "l_linestatus")
        )

    q["agg_pricing"] = q_agg_pricing

    def q_join_broadcast(spark, sf_dir):
        o = tables.load(spark, sf_dir, "orders")
        c = tables.load(spark, sf_dir, "customer")
        return (
            o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
            .groupBy("c_mktsegment")
            .agg(F.sum("o_totalprice").alias("revenue"),
                 F.count(F.lit(1)).alias("n_orders"))
        )

    q["join_broadcast"] = q_join_broadcast

    def q_multi_join(spark, sf_dir):
        li = tables.load(spark, sf_dir, "lineitem")
        o = tables.load(spark, sf_dir, "orders")
        c = tables.load(spark, sf_dir, "customer")
        n = tables.load(spark, sf_dir, "nation")
        r = tables.load(spark, sf_dir, "region")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        )

    q["multi_join"] = q_multi_join

    def q_left_join_enrich(spark, sf_dir):
        """J1 shape: results left-join licenses ⇒ customer ⟕ orders."""
        c = tables.load(spark, sf_dir, "customer")
        o = tables.load(spark, sf_dir, "orders")
        agg = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("total"))
        return (
            c.join(agg, c.c_custkey == agg.o_custkey, "left")
            .select("c_custkey", F.coalesce(F.col("total"), F.lit(0.0)).alias("total_spent"))
        )

    q["left_join_enrich"] = q_left_join_enrich

    def q_semi_join(spark, sf_dir):
        c = tables.load(spark, sf_dir, "customer")
        o = tables.load(spark, sf_dir, "orders")
        return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")

    q["semi_join"] = q_semi_join

    def q_anti_join(spark, sf_dir):
        c = tables.load(spark, sf_dir, "customer")
        o = tables.load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
        return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")

    q["anti_join"] = q_anti_join

    def q_dedup_pairs(spark, sf_dir):
        d = tables.load(spark, sf_dir, "documents")
        return d.select("lang", "source").dropDuplicates()

    q["dedup_pairs"] = q_dedup_pairs

    def q_ordered_concat(spark, sf_dir):
        e = tables.load(spark, sf_dir, "events")
        return (
            e.groupBy("user_id")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                        lambda x: x["event_type"],
                    ),
                    ",",
                ).alias("event_seq")
            )
        )

    q["ordered_concat"] = q_ordered_concat

    def q_window_topk(spark, sf_dir):
        e = tables.load(spark, sf_dir, "events")
        w = W.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id"))
        return (
            e.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("event_type", "event_id", "rk")
        )

    q["window_topk"] = q_window_topk

    def q_sort_limit(spark, sf_dir):
        d = tables.load(spark, sf_dir, "documents")
        return (
            d.orderBy(F.col("n_chars").desc(), F.col("doc_id"))
            .select("doc_id", "n_chars")
            .limit(10)
        )

    q["sort_limit"] = q_sort_limit

    def q_rollup(spark, sf_dir):
        li = tables.load(spark, sf_dir, "lineitem")
        return (
            li.rollup("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").alias("sum_qty"))
        )

    q["rollup"] = q_rollup

    def q_union_distinct(spark, sf_dir):
        c = tables.load(spark, sf_dir, "customer")
        s = tables.load(spark, sf_dir, "supplier")
        return (
            c.select(F.col("c_nationkey").alias("nationkey"))
            .union(s.select(F.col("s_nationkey").alias("nationkey")))
            .distinct()
        )

    q["union_distinct"] = q_union_distinct

    def q_fingerprint_md5(spark, sf_dir):
        d = tables.load(spark, sf_dir, "documents")
        return d.select("doc_id", F.md5(F.encode("text", "UTF-8")).alias("fp"))

    q["fingerprint_md5"] = q_fingerprint_md5

    def q_range_join(spark, sf_dir):
        """Range (interval) join: per purchase, how many same-user events of
        any kind land in the following 5 minutes. Equi on user + range on
        ts → sort-merge join with a residual range filter."""
        e = tables.load(spark, sf_dir, "events")
        p = e.filter(F.col("event_type") == "purchase") \
            .select(F.col("user_id").alias("p_user"),
                    F.col("event_id").alias("p_event"),
                    F.col("ts").alias("p_ts"))
        joined = p.join(
            e,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("ts") > F.col("p_ts"))
            & (F.col("ts") <= F.col("p_ts") + F.expr("INTERVAL 5 MINUTES")),
            "left",
        )
        return (joined.groupBy("p_user", "p_event")
                .agg(F.count(F.col("event_id")).alias("n_following")))

    q["range_join"] = q_range_join

    def q_asof_join(spark, sf_dir):
        """As-of join (no Spark built-in — union+window composition): each
        purchase event gets the same user's most recent prior view event."""
        e = tables.load(spark, sf_dir, "events")
        purchases = e.filter(F.col("event_type") == "purchase") \
            .select("user_id", "ts", "event_id")
        views = e.filter(F.col("event_type") == "view") \
            .select("user_id", "ts",
                    F.col("event_id").alias("view_event_id"),
                    F.col("value").alias("view_value"))
        out = asof_join(purchases, views, on="ts", by="user_id",
                        right_cols=["view_event_id", "view_value"])
        return out.select(
            "user_id", "event_id",
            F.col("view_event_id_asof").alias("view_event_id"),
            F.round(F.col("view_value_asof"), 6).alias("view_value"))

    q["asof_join"] = q_asof_join

    def q_sessionize(spark, sf_dir):
        """Gap-based sessionization (batch form of the stateful streaming
        operator): 30-min gap sessions per user over events."""
        e = tables.load(spark, sf_dir, "events")
        out = sessionize_batch(e, gap_min=30)
        return out.select(
            "user_id", F.col("session_id").cast("long").alias("session_id"),
            "session_start", "session_end", "n_events",
            F.round("total_value", 6).alias("total_value"))

    q["sessionize"] = q_sessionize

    def q_grouping_sets(spark, sf_dir):
        li = tables.load(spark, sf_dir, "lineitem")
        li.createOrReplaceTempView("lineitem_gs")
        return spark.sql("""
            SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty
            FROM lineitem_gs
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """)

    q["grouping_sets"] = q_grouping_sets

    def q_distinct_agg(spark, sf_dir):
        li = tables.load(spark, sf_dir, "lineitem")
        return (li.groupBy("l_returnflag")
                .agg(F.countDistinct("l_orderkey").alias("n_orders"),
                     F.countDistinct("l_suppkey", "l_partkey").alias("n_sp"),
                     F.count(F.lit(1)).alias("n_rows")))

    q["distinct_agg"] = q_distinct_agg

    def q_set_ops(spark, sf_dir):
        """INTERSECT / EXCEPT: nations having customers vs suppliers."""
        c = tables.load(spark, sf_dir, "customer").select(
            F.col("c_nationkey").alias("nationkey")).distinct()
        s = tables.load(spark, sf_dir, "supplier").select(
            F.col("s_nationkey").alias("nationkey")).distinct()
        both = c.intersect(s).withColumn("tag", F.lit("both"))
        only_c = c.exceptAll(s).withColumn("tag", F.lit("cust_only"))
        return both.union(only_c)

    q["set_ops"] = q_set_ops

    def q_date_funcs(spark, sf_dir):
        e = tables.load(spark, sf_dir, "events")
        return (e.groupBy(
                    F.date_trunc("day", F.col("ts")).alias("day"),
                    F.hour("ts").alias("hour"))
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 5))

    q["date_funcs"] = q_date_funcs

    def q_string_funcs(spark, sf_dir):
        d = tables.load(spark, sf_dir, "documents")
        return d.select(
            "doc_id",
            F.upper(F.substring("text", 1, 20)).alias("head_uc"),
            F.length(F.translate("text", "aeiou", "")).alias("n_consonant_chars"),
            F.reverse(F.split(F.trim("text"), r"\s+"))[0].alias("last_word"),
            F.levenshtein(F.substring("text", 1, 10),
                          F.substring("text", 11, 10)).alias("lev"),
        )

    q["string_funcs"] = q_string_funcs

    def q_pivot(spark, sf_dir):
        e = tables.load(spark, sf_dir, "events")
        types = [r.event_type for r in
                 e.select("event_type").distinct().orderBy("event_type").collect()]
        p = (e.groupBy("user_id").pivot("event_type", types)
             .agg(F.count(F.lit(1))))
        cols = [F.col("user_id")] + [
            F.coalesce(F.col(f"`{t}`"), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in types]
        return p.select(*cols)

    q["pivot_counts"] = q_pivot

    def q_cube(spark, sf_dir):
        li = tables.load(spark, sf_dir, "lineitem")
        return (li.cube("l_returnflag", "l_linestatus")
                .agg(F.count(F.lit(1)).alias("n")))

    q["cube_counts"] = q_cube

    def q_zscore_by_lang(spark, sf_dir):
        """Per-language standardization of doc length (the per-group
        calibration a curation pipeline applies before thresholding) —
        pure window aggregates, no ranking, no UDF."""
        d = tables.load(spark, sf_dir, "documents")
        w = W.partitionBy("lang")
        return d.select(
            "doc_id", "lang",
            F.round(
                (F.col("n_chars") - F.avg("n_chars").over(w))
                / F.stddev_samp("n_chars").over(w), 6).alias("len_z"),
            F.count(F.lit(1)).over(w).alias("lang_docs"),
        )

    q["zscore_by_lang"] = q_zscore_by_lang

    def q_quantiles(spark, sf_dir):
        """Exact interpolated percentiles per group (Spark `percentile` and
        DuckDB `quantile_cont` share the linear-interpolation definition;
        rounded to 6dp for cross-engine float stability). At corpus scale
        swap for approx_percentile — documented, not benched here because
        sketch implementations differ across engines."""
        e = tables.load(spark, sf_dir, "events")
        return (e.groupBy("event_type").agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        ))

    q["quantiles"] = q_quantiles

    def q_timestamp_window(spark, sf_dir):
        e = tables.load(spark, sf_dir, "events")
        return (
            e.filter(
                (F.col("ts") >= F.lit("2024-01-10"))
                & (F.col("ts") < F.lit("2024-01-20"))
            )
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("avg_value"))
        )

    q["timestamp_window"] = q_timestamp_window

    def q_crawl_diff(spark, sf_dir):
        """Cross-snapshot crawl diff: snapshot A = the corpus; snapshot
        B drops every 7th doc (gone), rewrites every 5th's text
        (changed), and adds +300000 copies of every 11th (added).  One
        slim-column full-outer join; per-url status."""
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        fp = F.md5(F.encode(F.col("text"), "UTF-8"))
        a = d.select(F.col("doc_id").alias("url"), fp.alias("fp"))
        b_changed = d.filter(F.col("doc_id") % 7 != 0).select(
            F.col("doc_id").alias("url"),
            F.when(F.col("doc_id") % 5 == 0,
                   F.md5(F.encode(F.concat(F.col("text"), F.lit(" v2")),
                                  "UTF-8")))
            .otherwise(fp).alias("fp"))
        # negative ids can never collide with real doc_ids at ANY sf
        # (doc_ids are non-negative), keeping both snapshots unique-per-key
        # as crawl_diff's contract requires
        b_added = d.filter(F.col("doc_id") % 11 == 0).select(
            (-F.col("doc_id") - 1).alias("url"), fp.alias("fp"))
        return crawl_diff(a, b_changed.union(b_added), key_col="url")

    q["crawl_diff"] = q_crawl_diff

    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["agg_pricing"] = """
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               sum(l_extendedprice) AS sum_base_price,
               sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
               avg(l_discount) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """
    o["join_broadcast"] = """
        SELECT c_mktsegment, sum(o_totalprice) AS revenue, count(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """
    o["multi_join"] = """
        SELECT r_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name
    """
    o["left_join_enrich"] = """
        SELECT c_custkey, COALESCE(t.total, 0.0) AS total_spent
        FROM customer
        LEFT JOIN (SELECT o_custkey, sum(o_totalprice) AS total
                   FROM orders GROUP BY o_custkey) t
               ON c_custkey = t.o_custkey
    """
    o["semi_join"] = """
        SELECT c_custkey FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """
    o["anti_join"] = """
        SELECT c_custkey FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """
    o["dedup_pairs"] = "SELECT DISTINCT lang, source FROM documents"
    o["ordered_concat"] = """
        SELECT user_id,
               string_agg(event_type, ',' ORDER BY ts, event_id) AS event_seq
        FROM events GROUP BY user_id
    """
    o["window_topk"] = """
        SELECT event_type, event_id, CAST(rk AS INTEGER) AS rk FROM (
            SELECT event_type, event_id,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY value DESC, event_id) AS rk
            FROM events) t
        WHERE rk <= 3
    """
    o["sort_limit"] = """
        SELECT doc_id, n_chars FROM documents
        ORDER BY n_chars DESC, doc_id LIMIT 10
    """
    o["rollup"] = """
        SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """
    o["union_distinct"] = """
        SELECT DISTINCT nationkey FROM (
            SELECT c_nationkey AS nationkey FROM customer
            UNION ALL
            SELECT s_nationkey AS nationkey FROM supplier)
    """

    o["fingerprint_md5"] = "SELECT doc_id, md5(text) AS fp FROM documents"

    o["range_join"] = """
        SELECT p.user_id AS p_user, p.event_id AS p_event,
               count(e.event_id) AS n_following
        FROM (SELECT user_id, event_id, ts FROM events
              WHERE event_type = 'purchase') p
        LEFT JOIN events e
          ON e.user_id = p.user_id
         AND e.ts > p.ts AND e.ts <= p.ts + INTERVAL 5 MINUTE
        GROUP BY p.user_id, p.event_id
    """

    o["asof_join"] = """
        WITH p AS (SELECT user_id, ts, event_id FROM events
                   WHERE event_type = 'purchase'),
             v AS (SELECT user_id, ts, event_id AS view_event_id,
                          value AS view_value
                   FROM events WHERE event_type = 'view')
        SELECT p.user_id, p.event_id,
               v.view_event_id,
               round(v.view_value, 6) AS view_value
        FROM p ASOF LEFT JOIN v
          ON p.user_id = v.user_id AND v.ts <= p.ts
    """

    o["sessionize"] = """
        WITH flagged AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sess AS (
            SELECT *, sum(is_new) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged)
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               min(ts) AS session_start, max(ts) AS session_end,
               count(*) AS n_events,
               round(sum(value), 6) AS total_value
        FROM sess GROUP BY user_id, session_id
    """

    o["grouping_sets"] = """
        SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """
    o["distinct_agg"] = """
        SELECT l_returnflag,
               count(DISTINCT l_orderkey) AS n_orders,
               count(DISTINCT (l_suppkey, l_partkey)) AS n_sp,
               count(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    """
    o["set_ops"] = """
        WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
             s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
        SELECT nationkey, 'both' AS tag FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
        UNION ALL
        SELECT nationkey, 'cust_only' AS tag FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
    """
    o["date_funcs"] = """
        SELECT date_trunc('day', ts) AS day,
               CAST(extract(hour FROM ts) AS INTEGER) AS hour,
               count(*) AS n
        FROM events GROUP BY 1, 2 HAVING count(*) > 5
    """
    o["string_funcs"] = """
        SELECT doc_id,
               upper(substring(text, 1, 20)) AS head_uc,
               CAST(strlen(list_aggregate(
                   list_filter(string_split(text, ''),
                               ch -> NOT list_contains(['a','e','i','o','u'], ch)),
                   'string_agg', '')) AS INTEGER) AS n_consonant_chars,
               regexp_split_to_array(trim(text), '\\s+')[-1] AS last_word,
               CAST(levenshtein(substring(text, 1, 10), substring(text, 11, 10)) AS INTEGER) AS lev
        FROM documents
    """
    o["pivot_counts"] = """
        SELECT user_id,
               count(*) FILTER (WHERE event_type = 'click')    AS n_click,
               count(*) FILTER (WHERE event_type = 'error')    AS n_error,
               count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
               count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
               count(*) FILTER (WHERE event_type = 'view')     AS n_view
        FROM events GROUP BY user_id
    """
    o["cube_counts"] = """
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """

    o["zscore_by_lang"] = """
        SELECT doc_id, lang,
               round((n_chars - avg(n_chars) OVER w)
                     / stddev_samp(n_chars) OVER w, 6) AS len_z,
               count(*) OVER w AS lang_docs
        FROM documents
        WINDOW w AS (PARTITION BY lang)
    """

    o["quantiles"] = """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6)  AS p50,
               round(quantile_cont(value, 0.9), 6)  AS p90,
               round(quantile_cont(value, 0.99), 6) AS p99
        FROM events GROUP BY event_type
    """

    o["timestamp_window"] = """
        SELECT event_type, count(*) AS n, avg(value) AS avg_value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          AND ts <  TIMESTAMP '2024-01-20 00:00:00'
        GROUP BY event_type
    """

    o["crawl_diff"] = """
        WITH a AS (SELECT doc_id AS url, md5(text) AS fp FROM documents),
        b AS (
            SELECT doc_id AS url,
                   CASE WHEN doc_id % 5 = 0 THEN md5(text || ' v2')
                        ELSE md5(text) END AS fp
            FROM documents WHERE doc_id % 7 <> 0
            UNION ALL
            SELECT -doc_id - 1, md5(text)
            FROM documents WHERE doc_id % 11 = 0)
        SELECT coalesce(a.url, b.url) AS url,
               CASE WHEN a.url IS NULL THEN 'added'
                    WHEN b.url IS NULL THEN 'gone'
                    WHEN a.fp IS NOT DISTINCT FROM b.fp THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM a FULL OUTER JOIN b ON a.url = b.url
    """
    return o
