"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline on sf0.001.
``queries()`` exposes one DataFrame callable per implemented operator from
SURVEY.md §2 (plus the training-data-pipeline operators); ``oracle_sql()``
gives the DuckDB-runnable ANSI equivalent for EVERY query — no rows-only
entries. Registration order is post-processed by
``_reorder_for_driver_window`` so the driver's ~50-entry CORRECTNESS
snapshot covers the queries that most recently lack a driver-recorded row;
``oracle_max_sf()`` advises which (quadratic-replay) oracles to cap at
sf0.01.

Oracle strategies, by kernel class:
* extraction kernels — queries run over text deterministically ENRICHED
  from ``documents`` with known field snippets built from ``doc_id``, so
  DuckDB computes the expected extractions INDEPENDENTLY (from doc_id
  arithmetic), never by re-running the kernel. Byte-identity with the
  reference extractor itself is pinned by the pytest golden suite
  (tests/test_fields_golden.py) and differential fuzzing.
* hash kernels — the hash functions are chosen to be replayable in SQL:
  simhash uses DuckDB's own md5_number_lower as its token hash; winnowing
  uses a codepoint-polynomial Horner hash; SRP-LSH planes and IVF
  centroids are seeded constants EMBEDDED as literals into generated SQL
  (same trick as the langid profile oracle), so DuckDB re-runs the whole
  algorithm from scratch.
* iterative operators — dedup clustering is replayed with a recursive-CTE
  transitive walk.
Property-based kernel↔SQL parity guards live in tests/test_sql_parity.py.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

import pandas as pd  # noqa: E402
from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from ocr_system_spark.session import ensure_package_on_executors  # noqa: E402
from ocr_system_spark.sources import tables  # noqa: E402


# ---------------------------------------------------------------------------
# deterministic enrichment: documents.text + known snippets from doc_id
# ---------------------------------------------------------------------------

def _enriched_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" LIC-"), ((i * 37) % 90000 + 10000).cast("string"),
            F.lit(" issued "), F.lpad((i % 28 + 1).cast("string"), 2, "0"), F.lit("/05/2024"),
            F.lit(" REF-AB"), ((i * 13) % 9000 + 1000).cast("string"),
            F.lit(" Telecommunication Tower at "), (i % 400 + 1).cast("string"),
            F.lit(" Main St, Zone "), (i % 9 + 1).cast("string"),
            F.lit(" situated in province"),
            F.lit(" valid from "), (i % 27 + 1).cast("string"),
            F.lit("th May 2025 to 12.06.2026"),
            F.lit(" No. "), (i % 9999 + 1).cast("string"),
            F.lit(" (R"), (i % 98 + 1).cast("string"), F.lit(")"),
        ).alias("text"),
    )


_ENRICH_SQL = """
    SELECT doc_id,
           text
           || ' LIC-'  || CAST(doc_id*37 % 90000 + 10000 AS VARCHAR)
           || ' issued ' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || '/05/2024'
           || ' REF-AB' || CAST(doc_id*13 % 9000 + 1000 AS VARCHAR)
           || ' Telecommunication Tower at ' || CAST(doc_id % 400 + 1 AS VARCHAR)
           || ' Main St, Zone ' || CAST(doc_id % 9 + 1 AS VARCHAR)
           || ' situated in province'
           || ' valid from ' || CAST(doc_id % 27 + 1 AS VARCHAR)
           || 'th May 2025 to 12.06.2026'
           || ' No. ' || CAST(doc_id % 9999 + 1 AS VARCHAR)
           || ' (R' || CAST(doc_id % 98 + 1 AS VARCHAR) || ')'
           AS text
    FROM documents
"""


def _keyed_kernel(df: DataFrame, out_fields: list[str], batch_fn) -> DataFrame:
    """Run a pandas batch kernel over (doc_id, text|html) keyed by doc_id."""
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType(), False)]
        + [T.StructField(f, T.StringType(), True) for f in out_fields]
    )

    def run(batches):
        for pdf in batches:
            out = batch_fn(pdf)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out[["doc_id"] + out_fields]

    return df.mapInPandas(run, schema=schema)


def _fields_kernel(df: DataFrame, out_fields: list[str],
                   dynamic_config: dict | None = None) -> DataFrame:
    """``extract_fields_batch`` over (doc_id, text), keyed by doc_id: the
    kernel sees doc_id as its string ``url``."""
    from ocr_system_spark.operators.extract import extract_fields_batch

    def batch(pdf: pd.DataFrame) -> pd.DataFrame:
        tmp = pdf.rename(columns={"doc_id": "url"})
        tmp["url"] = tmp["url"].astype(str)
        return extract_fields_batch(tmp, dynamic_config=dynamic_config)[out_fields]

    return _keyed_kernel(df, out_fields, batch)


def _static_fields_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fields_kernel(
        _enriched_docs(spark, sf_dir),
        ["license_id", "date", "reference_id", "address",
         "start_date", "end_date", "licenses", "renew_times", "notes"])


# ---------------------------------------------------------------------------
# entry — flagship pipeline on sf0.001
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Pages built from sf0.001 documents → full fused extraction pipeline
    (bucketed, skew-aware) → results DataFrame."""
    ensure_package_on_executors(spark)
    from ocr_system_spark.plans.pipeline import extract_all, with_buckets

    pages = tables.pages_from_documents(spark, "/root/testdata/sf0.001")
    bucketed = with_buckets(pages, n_buckets=8, skew_bytes=1 << 20)
    return extract_all(bucketed)


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- extraction tier: real kernels, independent oracles --------------

    def q_html_main_extract(spark, sf_dir):
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.payload import extract_text_batch

        pages = tables.pages_from_documents(spark, sf_dir)

        def batch(pdf):
            out = extract_text_batch(pdf.rename(columns={"doc_id": "url"})
                                     .assign(url=lambda x: x["url"].astype(str)))
            return out[["extracted_text"]]

        return _keyed_kernel(pages.select("doc_id", "html"), ["extracted_text"], batch)

    q["html_main_extract"] = q_html_main_extract

    def _mk_field_query(col):
        def fn(spark, sf_dir):
            ensure_package_on_executors(spark)
            return _static_fields_df(spark, sf_dir).select("doc_id", col)
        return fn

    for col in ["license_id", "date", "reference_id", "address",
                "start_date", "end_date", "licenses", "renew_times"]:
        q[f"field_{col}"] = _mk_field_query(col)

    def q_static_fields_raw(spark, sf_dir):
        """Static projection over RAW documents text (catch-all patterns +
        W1 non-empty filter + notes errors-as-data)."""
        ensure_package_on_executors(spark)
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return _fields_kernel(d, ["license_id", "reference_id", "notes"])

    q["static_fields_raw"] = q_static_fields_raw

    def q_nonempty_filter(spark, sf_dir):
        """W1 non-empty-result selection over the RAW static projection —
        drops the rows whose whole extraction came up empty (changes the
        row count, which is what the oracle checks)."""
        ensure_package_on_executors(spark)
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        res = _fields_kernel(d, ["license_id", "reference_id"])
        return res.filter(
            (F.trim(F.coalesce(F.col("license_id"), F.lit(""))) != "")
            | (F.trim(F.coalesce(F.col("reference_id"), F.lit(""))) != "")
        )

    q["nonempty_filter"] = q_nonempty_filter

    # ---- relational operators --------------------------------------------

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
        from pyspark.sql import Window as W
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

    # ---- training-data pipeline operators ---------------------------------

    def q_dedup_exact(spark, sf_dir):
        """Exact dedup over documents ∪ an exact copy of itself."""
        from ocr_system_spark.operators.dedup import exact_dedup_groups
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        dup = d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        return exact_dedup_groups(d.union(dup), "doc_id")

    q["dedup_exact"] = q_dedup_exact

    def q_dedup_ngram_jaccard(spark, sf_dir):
        """Exact 3-gram Jaccard pairs (lang-blocked) over documents ∪ a
        perturbed near-dup copy (first word dropped)."""
        from ocr_system_spark.operators.dedup import (
            ngram_jaccard_pairs, with_near_dup_copies)
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
        both = with_near_dup_copies(d, "doc_id")
        p = ngram_jaccard_pairs(both, "doc_id", block_col="lang", min_jaccard_pct=50)
        return p.select("id_a", "id_b", F.col("inter").cast("long").alias("inter"),
                        F.col("uni").cast("long").alias("uni"))

    q["dedup_ngram_jaccard"] = q_dedup_ngram_jaccard

    def q_dedup_ngram_guarded(spark, sf_dir):
        """n-gram Jaccard with the frequent-shingle guard (and, at sf0.01,
        the triangle salting) DEMONSTRABLY firing — closes the admitted
        oracle gap where guard semantics were pytest-only (COVERAGE.md).

        Constructed corpus (pure doc_id arithmetic, replayed in SQL):
        every doc starts with the same 3 words (one shingle in ALL docs —
        frequency > max_group at every tested sf → dropped), then a
        mid-frequency 3-word tier keyed by (doc_id//2) % 16 (~N/16 docs:
        ≈31 at sf0.01's 500-doc table — in (salt_cap=20, max_group] →
        triangle-salted; ≈312 at sf0.1 → > max_group, also dropped), then
        a pair tier keyed by doc_id//2, then a unique word. Pairs
        (2g, 2g+1) land at Jaccard 6/8 (sf ≤ 0.01) or 3/5 (sf0.1) —
        values that are only produced if the guard fired,
        and the oracle replays the guard GENERICALLY (drop shingles with
        doc-frequency > max_group before any counting), so the hash match
        proves the guard contract, not just the happy path."""
        from ocr_system_spark.operators.dedup import ngram_jaccard_pairs
        d = tables.load(spark, sf_dir, "documents").select("doc_id")
        g = F.floor(F.col("doc_id") / 2).cast("long")
        gs = g.cast("string")
        xs = (g % 16).cast("string")
        text = F.concat_ws(
            " ",
            F.lit("z0"), F.lit("z1"), F.lit("z2"),
            F.concat(F.lit("ma"), xs), F.concat(F.lit("mb"), xs),
            F.concat(F.lit("mc"), xs),
            F.concat(F.lit("pa"), gs), F.concat(F.lit("pb"), gs),
            F.concat(F.lit("pc"), gs),
            F.concat(F.lit("u"), F.col("doc_id").cast("string")))
        docs = d.select("doc_id", text.alias("text"))
        p = ngram_jaccard_pairs(docs, "doc_id", min_jaccard_pct=50,
                                max_group=150, salt_cap=20)
        return p.select("id_a", "id_b",
                        F.col("inter").cast("long").alias("inter"),
                        F.col("uni").cast("long").alias("uni"))

    q["dedup_ngram_guarded"] = q_dedup_ngram_guarded

    def q_dedup_minhash_lsh(spark, sf_dir):
        """MinHash(64)+LSH(16 bands) candidates, exact-verified at J≥0.7."""
        from ocr_system_spark.operators.dedup import (
            minhash_lsh_pairs, with_near_dup_copies)
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        both = with_near_dup_copies(d, "doc_id")
        p = minhash_lsh_pairs(both, "doc_id", min_jaccard_pct=70)
        return p.select("id_a", "id_b", F.col("inter").cast("long").alias("inter"),
                        F.col("uni").cast("long").alias("uni"))

    q["dedup_minhash_lsh"] = q_dedup_minhash_lsh

    def q_dedup_simhash(spark, sf_dir):
        """SimHash near-dup pairs (Hamming ≤ 3). The DuckDB oracle
        recomputes the full signature independently (md5_number_lower token
        hash + 64-way weighted bit vote) and does an exact all-pairs
        hamming join — matching it also proves the Spark side's 4x16-bit
        band blocking is lossless."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.dedup import (
            simhash_pairs, with_near_dup_copies)
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        both = with_near_dup_copies(d, "doc_id")
        return simhash_pairs(both, "doc_id")

    q["dedup_simhash"] = q_dedup_simhash

    def q_embedding_topk(spark, sf_dir):
        """Brute-force cosine top-5 for the first 20 query vectors."""
        from ocr_system_spark.operators.similarity import brute_force_topk
        e = tables.load(spark, sf_dir, "embeddings")
        return brute_force_topk(e, e.filter(F.col("vec_id") < 20), k=5)

    q["embedding_topk"] = q_embedding_topk

    def q_embedding_lsh_topk(spark, sf_dir):
        """SRP-LSH bucketed approximate top-5. The hyperplanes are seeded
        constants, so the DuckDB oracle replays the full algorithm from
        plane literals — bucket assignment, candidate union, exact rank."""
        from ocr_system_spark.operators.similarity import lsh_topk
        e = tables.load(spark, sf_dir, "embeddings")
        return lsh_topk(e, e.filter(F.col("vec_id") < 20), k=5)

    q["embedding_lsh_topk"] = q_embedding_lsh_topk

    def q_embedding_ivf_topk(spark, sf_dir):
        """IVF approximate top-5 (deterministic centroid sample, nprobe=4
        of 16 cells → ~25% scan). DuckDB oracle replays centroid selection,
        cell assignment, probing, and exact ranking independently."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.similarity import ivf_topk
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
        from ocr_system_spark.operators.similarity import cosine_dup_pairs_lsh
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

    def q_token_counts(spark, sf_dir):
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.textstats import with_token_counts
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return with_token_counts(d).select("doc_id", "ws_tokens", "bpeish_tokens")

    q["token_counts"] = q_token_counts

    def q_quality_features(spark, sf_dir):
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.textstats import with_quality
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return with_quality(d).select(
            "doc_id", "n_chars", "n_words", "n_stopwords",
            "punct_ratio", "upper_ratio")

    q["quality_features"] = q_quality_features

    def q_langid(spark, sf_dir):
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.textstats import with_langid
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return with_langid(d).select("doc_id", "lang_pred")

    q["langid"] = q_langid

    def q_fingerprint_md5(spark, sf_dir):
        d = tables.load(spark, sf_dir, "documents")
        return d.select("doc_id", F.md5(F.encode("text", "UTF-8")).alias("fp"))

    q["fingerprint_md5"] = q_fingerprint_md5

    def q_winnow_fingerprint(spark, sf_dir):
        """Winnowing fingerprints as scalar (doc_id, pos, fp) rows. The
        k-gram hash is a codepoint polynomial mod 2^31-1, so the DuckDB
        oracle recomputes the whole algorithm independently in SQL."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.textstats import winnow_fingerprints
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return winnow_fingerprints(d, id_col="doc_id", text_col="text")

    q["winnow_fingerprint"] = q_winnow_fingerprint

    def q_multimodal_meta(spark, sf_dir):
        """Binary media column plumbing: typed metadata over opaque bytes."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.multimodal import (
            decode_media_features, documents_as_media)
        d = tables.load(spark, sf_dir, "documents")
        feats = decode_media_features(documents_as_media(d))
        return feats.select("id", "media_type", "n_bytes")

    q["multimodal_meta"] = q_multimodal_meta

    def q_frame_sample(spark, sf_dir):
        """Frame-sampling plumbing: per-media frame slices (lengths are
        SQL-checkable even though the decode is stubbed)."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.multimodal import (
            documents_as_media, frame_sample_stub)
        d = tables.load(spark, sf_dir, "documents")
        frames = frame_sample_stub(documents_as_media(d))
        return frames.select(
            "id", "frame_idx", F.octet_length("frame").alias("n_frame_bytes"))

    q["frame_sample"] = q_frame_sample

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
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.asof import asof_join
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

    def q_dynamic_fields(spark, sf_dir):
        """F9 dynamic multi-field projection over enriched text, including
        the ''-for-miss semantics (NOT null — differs from the static layer)
        and a deliberately invalid pattern that must be dropped driver-side."""
        ensure_package_on_executors(spark)
        cfg = {
            "permit": [r"\bLIC[-_\s]?(\d{3,})\b"],
            "zone": [r"Zone\s+(\d)\b"],
            "nothing": [r"([bad", r"\bZZZNOPE\b"],
        }
        return _fields_kernel(
            _enriched_docs(spark, sf_dir), ["permit", "zone", "nothing"], cfg)

    q["dynamic_fields"] = q_dynamic_fields

    def q_sessionize(spark, sf_dir):
        """Gap-based sessionization (batch form of the stateful streaming
        operator): 30-min gap sessions per user over events."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.streaming.sessionize import sessionize_batch
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

    def q_media_resize(spark, sf_dir):
        """Resize plumbing: output byte budget is SQL-checkable even with
        the decode stubbed (stride decimation: ceil-div step)."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.multimodal import (
            documents_as_media, resize_stub)
        d = tables.load(spark, sf_dir, "documents")
        out = resize_stub(documents_as_media(d), target_bytes=100)
        return out.select("id", "orig_bytes", "resized_bytes")

    q["media_resize"] = q_media_resize

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

    def q_model_extract(spark, sf_dir):
        """F15 model-UDF slot (reference's T5 branch shape): per-field
        decode + validation, deterministic heuristic decoder in this
        container. Enriched docs give known expected decodes."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.model_extract import model_extract
        d = _enriched_docs(spark, sf_dir).select(
            F.col("doc_id"), F.col("text"))
        out = model_extract(d, id_col="doc_id", text_col="text")
        return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                          "license_id", "date", "reference_id")

    q["model_extract"] = q_model_extract

    def q_repetition_stats(spark, sf_dir):
        """Gopher-style duplicate word-bigram counts (integer totals)."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.textstats import with_repetition_stats
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return with_repetition_stats(d).select(
            "doc_id", "total_bigrams", "distinct_bigrams")

    q["repetition_stats"] = q_repetition_stats

    def q_gopher_quality(spark, sf_dir):
        """MassiveText/Gopher document-quality gates (integer-stable)."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.textstats import with_gopher_quality
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return with_gopher_quality(d, min_words=30).select(
            "doc_id", "n_words", "n_word_chars", "n_stop_hits", "gopher_pass")

    q["gopher_quality"] = q_gopher_quality

    def q_dedup_components(spark, sf_dir):
        """Connected components over the exact-Jaccard near-dup pair graph —
        the cluster-then-keep-one step of a production dedup pipeline.
        Every doc (incl. singletons) gets comp = min doc id reachable."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.components import connected_components
        from ocr_system_spark.operators.dedup import (
            ngram_jaccard_pairs, with_near_dup_copies)
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
        both = with_near_dup_copies(d, "doc_id")
        edges = ngram_jaccard_pairs(both, "doc_id", block_col="lang",
                                    min_jaccard_pct=50)
        nodes = both.select(F.col("doc_id").alias("id"))
        return connected_components(edges, nodes=nodes).select("id", "comp")

    q["dedup_components"] = q_dedup_components

    def q_curation_pipeline(spark, sf_dir):
        """End-to-end training-data curation — the composition a real
        pipeline runs: Gopher quality gate ∧ near-dup clustering with
        keep-one-per-component (min doc id wins). Output: every KEPT doc
        with its stats. Each stage is individually oracle-verified
        elsewhere; this query verifies their composition."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.components import connected_components
        from ocr_system_spark.operators.dedup import (
            ngram_jaccard_pairs, with_near_dup_copies)
        from ocr_system_spark.operators.textstats import with_gopher_quality

        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
        both = with_near_dup_copies(d, "doc_id")
        edges = ngram_jaccard_pairs(both, "doc_id", block_col="lang",
                                    min_jaccard_pct=50)
        comps = connected_components(
            edges, nodes=both.select(F.col("doc_id").alias("id")))
        quality = with_gopher_quality(both.select("doc_id", "text"), min_words=30)
        kept = (
            quality.join(comps, quality.doc_id == comps.id)
            .filter(F.col("gopher_pass") & (F.col("doc_id") == F.col("comp")))
            .select("doc_id", "n_words", "n_stop_hits")
        )
        return kept

    q["curation_pipeline"] = q_curation_pipeline

    def q_dedup_keep_best(spark, sf_dir):
        """Quality-aware keep-one-per-cluster: near-dup components keep the
        member with the MOST tokens, not the min id. The planted copy
        APPENDS two words (higher score, higher id), so the kept set
        provably differs from min-id keep-one — a hash-PASS here verifies
        the keep_best policy itself, not just clustering."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.components import (
            connected_components, keep_best)
        from ocr_system_spark.operators.dedup import ngram_jaccard_pairs
        from ocr_system_spark.operators.textstats import with_token_counts

        d = tables.load(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang")
        copies = d.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.trim(F.col("text")), F.lit(" zzqx zzqy")).alias("text"),
            "lang")
        both = d.union(copies)
        edges = ngram_jaccard_pairs(both, "doc_id", block_col="lang",
                                    min_jaccard_pct=50)
        comps = connected_components(
            edges, nodes=both.select(F.col("doc_id").alias("id")))
        scored = with_token_counts(both).select("doc_id", "ws_tokens")
        kept = keep_best(scored, comps, "ws_tokens", id_col="doc_id")
        return kept.select("doc_id", "comp",
                           F.col("ws_tokens").cast("long").alias("ws_tokens"))

    q["dedup_keep_best"] = q_dedup_keep_best

    def q_fuzzy_dedup_e2e(spark, sf_dir):
        """End-to-end fuzzy dedup — the production near-dup stage as ONE
        composition: MinHash(64)+LSH(16-band) candidate pairs (exact-
        verified at J≥0.7) → connected components → quality keep-best
        (most ws_tokens wins, ties min id). Planted copies APPEND two
        words (higher score, higher id), so the kept set provably differs
        from min-id keep-one. The oracle replays the band blocking itself
        (md5-derived shingle hash → affine minhash → 4-row band keys in
        SQL), so the match is recall-free: both engines must derive the
        SAME candidate set, not just agree on easy pairs."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.components import (
            connected_components, keep_best)
        from ocr_system_spark.operators.dedup import minhash_lsh_pairs
        from ocr_system_spark.operators.textstats import with_token_counts

        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        copies = d.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.trim(F.col("text")), F.lit(" zzqx zzqy")).alias("text"))
        both = d.union(copies)
        edges = minhash_lsh_pairs(both, "doc_id", min_jaccard_pct=70)
        comps = connected_components(
            edges, nodes=both.select(F.col("doc_id").alias("id")))
        scored = with_token_counts(both).select("doc_id", "ws_tokens")
        kept = keep_best(scored, comps, "ws_tokens", id_col="doc_id")
        return kept.select("doc_id", "comp",
                           F.col("ws_tokens").cast("long").alias("ws_tokens"))

    q["fuzzy_dedup_e2e"] = q_fuzzy_dedup_e2e

    def q_decontaminate(spark, sf_dir):
        """Benchmark decontamination audit: per-doc count of distinct
        word-5-grams shared with a benchmark set (a deterministic
        10-word excerpt of every 10th document — the planted leak). The
        flag join is a BROADCAST semi-join on 64-bit shingle hashes, so
        at corpus scale decontamination is one scan; the oracle recomputes
        hits from string shingle sets."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.decontaminate import contamination_hits
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        words = F.split(F.trim(F.col("text")), r"\s+")
        bench = d.filter(F.col("doc_id") % 10 == 0).select(
            F.array_join(F.slice(words, 3, 10), " ").alias("text"))
        hits = contamination_hits(d, bench, n=5)
        return hits.select("id", F.col("n_hits").cast("long").alias("n_hits"))

    q["decontaminate"] = q_decontaminate

    def q_decontaminate_bloom(spark, sf_dir):
        """Bloom-gated decontamination: same planted-leak construction as
        `decontaminate`, but the corpus is pre-gated by a broadcast Bloom
        BIT ARRAY (the 10⁹-shingle regime where the raw hash set outgrows
        a broadcast) and only gate survivors are exact-verified by a
        keyed semi-join. Output = the SURVIVING corpus ids; the oracle is
        the exact set-intersection definition — false positives must be
        fully cancelled by the verify stage, false negatives are
        impossible, so the Bloom path must reproduce the exact answer."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.decontaminate import decontaminate_bloom
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        words = F.split(F.trim(F.col("text")), r"\s+")
        bench = d.filter(F.col("doc_id") % 10 == 0).select(
            F.array_join(F.slice(words, 3, 10), " ").alias("text"))
        kept = decontaminate_bloom(d, bench, n=5, fpp=0.05)
        return kept.select("doc_id")

    q["decontaminate_bloom"] = q_decontaminate_bloom

    def q_zscore_by_lang(spark, sf_dir):
        """Per-language standardization of doc length (the per-group
        calibration a curation pipeline applies before thresholding) —
        pure window aggregates, no ranking, no UDF."""
        from pyspark.sql import Window as W
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

    def q_pii_scrub(spark, sf_dir):
        """PII redaction over text enriched with synthetic email/IP/phone
        built from doc_id — pure JVM regexp chain; DuckDB re-runs the same
        RE2-safe patterns over the same construction."""
        from ocr_system_spark.operators.scrub import with_pii_scrubbed
        d = tables.load(spark, sf_dir, "documents")
        i = F.col("doc_id")
        enriched = d.select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" contact user"), i.cast("string"),
                F.lit("@example"), (i % 7).cast("string"), F.lit(".com"),
                F.lit(" from 10."), (i % 256).cast("string"),
                F.lit("."), ((i * 3) % 256).cast("string"),
                F.lit("."), (i % 200 + 1).cast("string"),
                F.lit(" call +1 ("), (i % 900 + 100).cast("string"),
                F.lit(") "), (i % 900 + 100).cast("string"),
                F.lit("-"), (i % 9000 + 1000).cast("string"),
            ).alias("text"),
        )
        return with_pii_scrubbed(enriched).select(
            "doc_id", "scrubbed", "n_email", "n_ipv4", "n_phone")

    q["pii_scrub"] = q_pii_scrub

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

    def _docs_with_planted_passages(spark, sf_dir):
        """documents with a deterministic 96-char passage (3× the md5 hex
        of doc_id — unique per pair, SQL-reconstructable) appended to every
        10th doc, plus a +100000 copy embedding the SAME passage in
        otherwise-different text (reversed chars). The only cross-document
        shared spans are the planted ones (plus whatever short vocab-level
        k-grams survive the boilerplate guard — deterministic either way)."""
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        passage = F.repeat(F.md5(F.col("doc_id").cast("string")), 3)
        tenth = d.filter(F.col("doc_id") % 10 == 0)
        base = (
            tenth.select("doc_id",
                         F.concat("text", F.lit(" "), passage).alias("text"))
            .union(d.filter(F.col("doc_id") % 10 != 0))
        )
        planted = tenth.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(passage, F.lit(" "), F.reverse(F.col("text"))).alias("text"))
        return base.union(planted)

    def q_dup_spans(spark, sf_dir):
        """Substring-level dedup: cross-document winnowing-fingerprint span
        matches over documents with planted shared passages. The DuckDB
        oracle replays the whole pipeline — normalization, k-gram Horner
        hash, winnow selection, boilerplate guard, fp self-join."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.spans import duplicate_spans
        return duplicate_spans(_docs_with_planted_passages(spark, sf_dir))

    q["dup_spans"] = q_dup_spans

    def q_dup_span_mass(spark, sf_dir):
        """Per-document duplicate-span mass (integer counts) — the
        corpus-wide curation signal derived from the same fingerprints."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.spans import dup_span_doc_mass
        return dup_span_doc_mass(_docs_with_planted_passages(spark, sf_dir))

    q["dup_span_mass"] = q_dup_span_mass

    def q_dup_span_removal(spark, sf_dir):
        """The curation transform: cut every cross-document duplicated
        span (merged winnow-match intervals) out of the normalized text.
        Pure JVM gaps-and-islands + string surgery; the oracle replays
        normalization, fingerprints, guard, matches, interval merge, and
        the substring reassembly — byte-identical clean_text."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.spans import remove_duplicate_spans
        return remove_duplicate_spans(_docs_with_planted_passages(spark, sf_dir))

    q["dup_span_removal"] = q_dup_span_removal

    def q_url_canon_dedup(spark, sf_dir):
        """URL canonicalization + alias-group dedup over deterministic
        messy URLs (case/default-port/tracking-param/trailing-slash/
        fragment variants built from doc_id). Pure JVM expression chain;
        the oracle replays every canonicalization step in SQL."""
        from ocr_system_spark.operators.urls import url_dedup_groups
        d = tables.load(spark, sf_dir, "documents")
        k = F.floor(F.col("doc_id") / 5).cast("long").cast("string")
        url = (
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.lit("HTTP://Example.COM:80/a/b/?utm_source=feed&x="), k))
            .when(F.col("doc_id") % 5 == 1,
                  F.concat(F.lit("http://example.com/a/b?x="), k))
            .when(F.col("doc_id") % 5 == 2,
                  F.concat(F.lit("https://Sub.Example.com:443/p/"), k, F.lit("/")))
            .when(F.col("doc_id") % 5 == 3,
                  F.concat(F.lit("https://sub.example.com/p/"), k, F.lit("#frag")))
            .otherwise(F.lit("http://example.com:8080/q?gclid=xyz&utm_campaign=c")))
        return url_dedup_groups(d.select("doc_id", url.alias("url")))

    q["url_canon_dedup"] = q_url_canon_dedup

    def q_url_blocklist(spark, sf_dir):
        """RefinedWeb-style URL filtering over deterministic URLs: a
        broadcast domain blocklist that must also catch SUBDOMAINS of a
        blocked registered domain (suffix explode + semi-join), plus a
        soft flagged-word score on the URL string (casino/poker, drop at
        ≥2 hits). Kept rows with host + score; the oracle replays host
        extraction, suffix matching, and the word score in SQL."""
        from ocr_system_spark.operators.urls import url_blocklist_filter
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

    def q_dedup_incremental(spark, sf_dir):
        """Incremental MinHash dedup: a new batch (perturbed copies of
        every 5th doc) deduped AGAINST the persisted signature index of the
        full corpus — band-bucket join + exact verify, no corpus re-shingle.
        Oracle: exact Jaccard between the two document sets."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.dedup import (
            incremental_minhash_pairs, minhash_signatures)
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        words = F.split(F.trim(F.col("text")), r"\s+")
        batch = d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.array_join(F.slice(words, 2, F.size(words) - 1), " ").alias("text"))
        index_sig = minhash_signatures(d, "doc_id")
        batch_sig = minhash_signatures(batch, "doc_id")
        return incremental_minhash_pairs(batch_sig, index_sig)

    q["dedup_incremental"] = q_dedup_incremental

    def q_dedup_index_update(spark, sf_dir):
        """Index MAINTENANCE for incremental dedup — the write-side half:
        a batch (near-dup copies of every 5th doc, which must be dropped,
        plus reversed-word fresh docs from every 5th+1, which must
        survive) is deduped against the corpus index with within-batch
        pairs on, and ``update_minhash_index`` produces the next index
        version. Output: the id set of that next version; the oracle
        recomputes it from exact Jaccard semantics (cross AND within-batch
        legs, min-id-wins within the batch)."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.dedup import (
            incremental_minhash_pairs, minhash_signatures,
            update_minhash_index)
        from ocr_system_spark.persist import persist
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        words = F.split(F.trim(F.col("text")), r"\s+")
        batch = d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.array_join(F.slice(words, 2, F.size(words) - 1), " ")
            .alias("text")
        ).union(d.filter(F.col("doc_id") % 5 == 1).select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.array_join(F.reverse(words), " ").alias("text")))
        index_sig = persist(minhash_signatures(d, "doc_id"))
        batch_sig = persist(minhash_signatures(batch, "doc_id"))
        pairs = incremental_minhash_pairs(batch_sig, index_sig,
                                          include_batch_pairs=True)
        return update_minhash_index(index_sig, batch_sig, pairs).select("id")

    q["dedup_index_update"] = q_dedup_index_update

    def q_ivf_train_topk(spark, sf_dir):
        """IVF top-5 on TRAINED centroids: deterministic md5-sample init +
        two distributed Lloyd iterations with integer-exact quantized means, so
        the DuckDB oracle replays training end-to-end (bit-identical
        centroids) and then the probe/rank."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.similarity import (
            ivf_topk, train_ivf_centroids)
        e = tables.load(spark, sf_dir, "embeddings")
        cents = train_ivf_centroids(e, n_centroids=16, iters=2)
        return ivf_topk(e, e.filter(F.col("vec_id") < 20), k=5,
                        n_probe=4, centroids=cents)

    q["ivf_train_topk"] = q_ivf_train_topk

    def q_doc_chunks(spark, sf_dir):
        """Token-window chunking (16-token windows, stride 12) — the
        curation→tokenization bridge. Pure JVM sequence/slice expression
        tree; the oracle replays windows with DuckDB list slicing."""
        from ocr_system_spark.operators.chunking import chunk_documents
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return chunk_documents(d, chunk_tokens=16, stride=12)

    q["doc_chunks"] = q_doc_chunks

    def q_pack_chunks(spark, sf_dir):
        """Sequence packing over the chunk relation: 16-token chunks laid
        into 64-token packs, shard-parallel (id % 8). Pure window+floor
        arithmetic; the oracle replays chunking, the per-shard running
        token count, and the grid cut."""
        from ocr_system_spark.operators.chunking import (chunk_documents,
                                                         pack_chunks)
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        chunks = chunk_documents(d, chunk_tokens=16, stride=12)
        return pack_chunks(chunks, budget=64, n_shards=8)

    q["pack_chunks"] = q_pack_chunks

    def q_host_cap(spark, sf_dir):
        """Per-host document cap (the anti-dominance curation step): at
        most 30 docs per synthetic host (doc_id % 7), chosen by the
        deterministic md5 lottery. Output: every kept (doc_id, host)."""
        from ocr_system_spark.operators.sampling import cap_per_group
        d = tables.load(spark, sf_dir, "documents").select("doc_id")
        hosts = d.select(
            "doc_id",
            F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"))
            .alias("host"))
        return cap_per_group(hosts, "host", cap=30)

    q["host_cap"] = q_host_cap

    def q_hash_split(spark, sf_dir):
        """Deterministic train/holdout split (2/16 expected holdout) from
        md5(doc_id) — zero-shuffle assignment; verified via per-(lang,
        split) counts."""
        from ocr_system_spark.operators.sampling import with_split
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "lang")
        return (with_split(d, holdout_sixteenths=2)
                .groupBy("lang", "split")
                .agg(F.count(F.lit(1)).alias("n")))

    q["hash_split"] = q_hash_split

    def q_top_terms(spark, sf_dir):
        """Per-doc top-3 salient terms, integer-ranked (tf desc, corpus
        doc-frequency asc, term asc) — float-free tf-idf ordering."""
        from ocr_system_spark.operators.textstats import top_terms_by_tf
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return top_terms_by_tf(d, k=3)

    q["top_terms"] = q_top_terms

    def q_embedding_topk_int8(spark, sf_dir):
        """Exact top-5 over INT8-quantized embeddings (the 4× storage
        path). Quantization, integer dots/norms, and the IEEE-exact score
        are fully replayed by the DuckDB oracle — ranks match
        bit-for-bit, ties included."""
        from ocr_system_spark.operators.similarity import brute_force_topk_int8
        e = tables.load(spark, sf_dir, "embeddings")
        return brute_force_topk_int8(e, e.filter(F.col("vec_id") < 20), k=5)

    q["embedding_topk_int8"] = q_embedding_topk_int8

    # ---- line-level curation (CCNet/C4-style; operators/lines.py) --------

    def _lined_base(spark, sf_dir, per_line, prepare=None, keep=("doc_id",)):
        """Shared lined-document scaffolding: tokenize → drop empty →
        6-token content-line count → flatten(per_line) → join with
        newlines.  Each caller supplies only its per_line(i) -> array
        lambda (and optionally extra columns via ``prepare``), so the
        construction stays bit-identical to the ONE CTE chain its DuckDB
        oracles replay."""
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        b = (d.select(
                "doc_id",
                F.regexp_extract_all("text", F.lit(r"[^\t\n\f\r ]+"), 0)
                .alias("w"))
             .withColumn("n", F.size("w")).filter(F.col("n") > 0))
        if prepare is not None:
            b = prepare(b)
        n_lines = (F.floor((F.col("n") - 1) / 6) + 1).cast("int")
        lines = F.flatten(
            F.transform(F.sequence(F.lit(0), n_lines - 1), per_line))
        return b.select(*keep, F.array_join(lines, "\n").alias("text"))

    def _lined_documents(spark, sf_dir):
        """documents re-laid-out as LINED text: 6-token content lines with
        a corpus-wide boilerplate pool line (3 variants) inserted after
        every 2nd content line — the web-boilerplate shape line-level
        dedup exists for.  Pure JVM expression tree, SQL-replayable."""
        def per_line(i):
            content = F.array_join(F.slice(F.col("w"), i * 6 + 1, 6), " ")
            boiler = F.concat(F.lit("shared boilerplate banner line "),
                              (i % 3).cast("string"))
            return (F.when(i % 2 == 0, F.array(content, boiler))
                    .otherwise(F.array(content)))

        return _lined_base(spark, sf_dir, per_line)

    def q_line_hot(spark, sf_dir):
        """Corpus-wide duplicated-line report (CCNet signal): distinct
        non-blank lines occurring in >= 10 documents, with exact doc
        counts.  Two map-side-combined aggregations, no join."""
        from ocr_system_spark.operators.lines import hot_lines
        return hot_lines(_lined_documents(spark, sf_dir), min_docs=10)

    q["line_hot"] = q_line_hot

    def q_line_dedup(spark, sf_dir):
        """Duplicated-line REMOVAL: rebuild every document without the
        lines that occur in >= 10 distinct documents (boilerplate pool
        lines go; content lines stay).  The hot set (bounded by
        total_lines/min_docs) marks lines in a JVM join that Spark plans
        as a broadcast at these sizes, so the corpus shuffles once for
        the frequency agg and once for the per-doc rebuild."""
        from ocr_system_spark.operators.lines import remove_duplicate_lines
        return remove_duplicate_lines(_lined_documents(spark, sf_dir),
                                      min_docs=10)

    q["line_dedup"] = q_line_dedup

    def q_paragraph_dedup(spark, sf_dir):
        """The CCNet paragraph pass COMPOSED end-to-end: normalize_text →
        remove_duplicate_lines(line_sep='\\n\\n').  Every doc gets a promo
        paragraph whose accent is COMPOSED on even ids and DECOMPOSED on
        odd ids — only after NFC do the variants collide into one hot
        paragraph (n_docs = all docs), which the paragraph dedup then
        strips; every 7th doc carries a second shared paragraph; each
        doc's own text is its unique surviving paragraph.  The rebuild
        is the JVM mark join + per-doc re-aggregation (tiny hot set →
        Spark broadcasts it)."""
        from ocr_system_spark.operators.lines import remove_duplicate_lines
        from ocr_system_spark.operators.normalize import normalize_text
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        promo = F.when(
            F.col("doc_id") % 2 == 0,
            F.lit("join our café club\nsubscribe today")).otherwise(
            F.lit("join our café club\nsubscribe today"))
        extra = F.when(
            F.col("doc_id") % 7 == 0,
            F.lit("\n\ncall to action\nlimited offer")).otherwise(F.lit(""))
        built = d.select(
            "doc_id",
            F.concat(promo, F.lit("\n\n"), F.col("text"), extra)
            .alias("text"))
        norm = normalize_text(built)
        return remove_duplicate_lines(norm, min_docs=10, id_col="id",
                                      text_col="norm_text",
                                      line_sep="\n\n")

    q["paragraph_dedup"] = q_paragraph_dedup

    def _hosted_lined_documents(spark, sf_dir):
        """Lined documents with a synthetic host (doc_id % 17) and a
        HOST-SPECIFIC template line inserted after every 3rd content line
        — the per-site footer/nav shape template stripping targets."""
        def per_line(i):
            content = F.array_join(F.slice(F.col("w"), i * 6 + 1, 6), " ")
            tmpl = F.concat(F.lit("host template "), F.col("host"),
                            F.lit(" footer"))
            return (F.when(i % 3 == 0, F.array(content, tmpl))
                    .otherwise(F.array(content)))

        return _lined_base(
            spark, sf_dir, per_line,
            prepare=lambda b: b.withColumn(
                "host", F.concat(F.lit("h"),
                                 (F.col("doc_id") % 17).cast("string"))),
            keep=("doc_id", "host"))

    def q_template_strip(spark, sf_dir):
        """Per-host template stripping: lines in >= 1/2 of a host's
        documents (hosts with >= 5 docs) removed.  Integer-exact fraction
        threshold; the (host, line) template set joins as a broadcast,
        which Spark picks from its size."""
        from ocr_system_spark.operators.lines import strip_template_lines
        return strip_template_lines(
            _hosted_lined_documents(spark, sf_dir), host_col="host",
            min_frac_num=1, min_frac_den=2, min_host_docs=5)

    q["template_strip"] = q_template_strip

    def q_c4_filters(spark, sf_dir):
        """C4 heuristic cleaning over punctuated lined documents: line
        keep-rule (terminal punctuation, >= 5 words, no "javascript") +
        document gates (no brace, no "lorem ipsum", >= 3 kept lines).
        Zero-shuffle row-local JVM expression tree — the 100-TB first-pass
        filter shape."""
        from ocr_system_spark.operators.lines import c4_clean

        def per_line(i):
            content = F.array_join(F.slice(F.col("w"), i * 6 + 1, 6), " ")
            # (doc_id + i) % 4 == 3 lines get no terminal punctuation;
            # every 5th line (i % 5 == 2) is a javascript interstitial
            punct = F.when((F.col("doc_id") + i) % 4 == 3, F.lit("")) \
                     .otherwise(F.lit("."))
            line = F.concat(content, punct)
            js = F.lit("please enable javascript to view this content.")
            return (F.when(i % 5 == 2, F.array(line, js))
                    .otherwise(F.array(line)))

        built = _lined_base(spark, sf_dir, per_line)
        text = F.col("text")
        text = F.when(F.col("doc_id") % 31 == 0,
                      F.concat(text, F.lit("\nlorem ipsum dolor sit amet.")))\
                .otherwise(text)
        text = F.when(F.col("doc_id") % 29 == 0,
                      F.concat(text, F.lit("\nconfig { display } block.")))\
                .otherwise(text)
        built = built.select("doc_id", text.alias("text"))
        return c4_clean(built, min_line_words=5, min_kept_lines=3)

    q["c4_filters"] = q_c4_filters

    def q_unigram_freq(spark, sf_dir):
        """Corpus-frequency document score (integer-exact CCNet-perplexity
        analog): per-doc (n_tokens, sum of corpus token frequencies).
        Map-side-combined tf, vocabulary-sized shuffle, term-keyed join."""
        from ocr_system_spark.operators.lines import unigram_freq_score
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return unigram_freq_score(d)

    q["unigram_freq"] = q_unigram_freq

    def q_intra_doc_dup(spark, sf_dir):
        """WITHIN-document duplicate-line stats (Gopher dup-line-fraction
        family) over the lined documents — the boilerplate pool repeats
        inside every long doc.  Row-local, zero-shuffle."""
        from ocr_system_spark.operators.lines import intra_doc_dup_stats
        return intra_doc_dup_stats(_lined_documents(spark, sf_dir))

    q["intra_doc_dup"] = q_intra_doc_dup

    def q_bpe_train(spark, sf_dir):
        """BPE merge training (8 merges): corpus→vocabulary aggregated
        distributedly, then the classic Sennrich merge loop on the
        driver with integer/string-exact argmax (count DESC, lhs ASC,
        rhs ASC).  The oracle replays all 8 training iterations in SQL."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.bpe import bpe_train
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return spark.createDataFrame(
            bpe_train(d, n_merges=8),
            "merge_id long, lhs string, rhs string, pair_count long")

    q["bpe_train"] = q_bpe_train
    # declared query names are fixed; one trainer serves all three
    q["bpe_train_batched"] = q_bpe_train
    q["bpe_train_local"] = q_bpe_train

    def q_bpe_encode(spark, sf_dir):
        """BPE encoding with the 8 learned merges: per-doc exact token and
        subword counts from the rank-cursor Arrow kernel (sequential
        merge semantics, row-local); the oracle replays training AND the
        encode replace chain."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.bpe import bpe_encode, bpe_train
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return bpe_encode(d, bpe_train(d, n_merges=8))

    q["bpe_encode"] = q_bpe_encode
    # declared query names are fixed; one encoder serves both
    q["bpe_encode_ranked"] = q_bpe_encode

    def q_quality_model_score(spark, sf_dir):
        """Model-based quality filter plumbing (CCNet/fastText stage):
        per-doc linear bag-of-words score with the deterministic md5 stub
        weight — zero joins, one per-doc aggregation."""
        from ocr_system_spark.operators.quality_model import (
            hashed_linear_score)
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return hashed_linear_score(d)

    q["quality_model_score"] = q_quality_model_score

    def q_quality_model_table_score(spark, sf_dir):
        """The trained-weight-table scoring path: (term, weight) relation
        (deterministic stand-in: weight = length(term) - 4) joined to
        per-doc term frequencies (Spark broadcasts the table at these
        sizes); OOV tokens default to 0."""
        from ocr_system_spark.functions.tokens import lower_ascii_tokens
        from ocr_system_spark.operators.quality_model import linear_score
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        weights = (d.select(F.explode(lower_ascii_tokens(F.col("text")))
                            .alias("term")).distinct()
                   # every-3rd term left out of vocabulary → exercises the
                   # OOV default-weight path
                   .filter(F.length("term") % 3 != 0)
                   .select("term",
                           (F.length("term") - 4).cast("long")
                           .alias("weight")))
        return linear_score(d, weights)

    q["quality_model_table_score"] = q_quality_model_table_score

    def q_crawl_diff(spark, sf_dir):
        """Cross-snapshot crawl diff: snapshot A = the corpus; snapshot
        B drops every 7th doc (gone), rewrites every 5th's text
        (changed), and adds +300000 copies of every 11th (added).  One
        slim-column full-outer join; per-url status."""
        from ocr_system_spark.operators.snapshots import crawl_diff
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

    def q_host_split(spark, sf_dir):
        """HOST-DISJOINT train/holdout split (leakage prevention): the
        split key is the host, not the document, so near-duplicate pages
        from one site can never straddle the boundary — the eval-
        contamination guard real pipelines pair with `hash_split`.
        Zero-shuffle assignment; verified via per-split doc/host counts."""
        from ocr_system_spark.operators.sampling import with_split
        d = tables.load(spark, sf_dir, "documents")
        hosted = d.select(
            "doc_id",
            F.concat(F.lit("h"), (F.col("doc_id") % 17).cast("string"))
            .alias("host"))
        out = with_split(hosted, id_col="host", holdout_sixteenths=2)
        return out.groupBy("split").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"))

    q["host_split"] = q_host_split

    def q_quality_tiers(spark, sf_dir):
        """Quality-tier binning (FineWeb-style curriculum buckets): docs
        scored by the hashed linear model, ntile(4) over the
        deterministic (score, id) order."""
        from ocr_system_spark.operators.quality_model import (
            hashed_linear_score, quality_tiers)
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return quality_tiers(hashed_linear_score(d), n_tiers=4)

    q["quality_tiers"] = q_quality_tiers

    def q_quality_tiers_bucketed(spark, sf_dir):
        """Scale-safe quality-tier binning: the two-pass cutpoint form
        (bounded score-distribution agg -> boundary (score,id) rows ->
        map-side comparison chain) — NO corpus-wide sort or window.
        Exact ntile parity by construction, so the oracle is the plain
        ntile SQL: the mechanism is checked against independent
        equal-count semantics rather than replayed."""
        from ocr_system_spark.operators.quality_model import (
            hashed_linear_score, quality_tiers_bucketed)
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return quality_tiers_bucketed(hashed_linear_score(d), n_tiers=4)

    q["quality_tiers_bucketed"] = q_quality_tiers_bucketed

    def q_tier_mixture(spark, sf_dir):
        """Data MIXING: per-tier deterministic sampling rates over the
        quality tiers (tier 1 kept at 2/16, tier 2 at 8/16, tiers 3-4
        fully) — the md5-lottery rate filter composed on the tier
        relation; zero additional shuffle."""
        from ocr_system_spark.operators.quality_model import (
            hashed_linear_score, quality_tiers)
        from ocr_system_spark.operators.sampling import mixture_sample
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        tiers = quality_tiers(hashed_linear_score(d), n_tiers=4)
        kept = mixture_sample(tiers, group_col="tier",
                              rate_sixteenths={1: 2, 2: 8, 3: 16, 4: 16},
                              id_col="id")
        return kept.groupBy("tier").agg(
            F.count(F.lit(1)).alias("n_kept"))

    q["tier_mixture"] = q_tier_mixture

    def q_normalize_text(spark, sf_dir):
        """Unicode text normalization (ftfy/CCNet-style pre-pass): CRLF,
        zero-width chars, and decomposed codepoints planted per doc; the
        oracle replays the replace chain + DuckDB's nfc_normalize."""
        from ocr_system_spark.operators.normalize import normalize_text
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        # explicit escapes: DECOMPOSED e+COMBINING ACUTE / A+RING so
        # NFC composes them; ZWSP between zw and sp
        suffix = (
            F.when(F.col("doc_id") % 4 == 0, F.lit(" e\u0301"))
            .when(F.col("doc_id") % 4 == 1, F.lit(" A\u030a"))
            .when(F.col("doc_id") % 4 == 2, F.lit(" zw\u200bsp"))
            .otherwise(F.lit(" x\r\ny")))
        built = d.select(
            "doc_id", F.concat(F.col("text"), suffix).alias("text"))
        return normalize_text(built)

    q["normalize_text"] = q_normalize_text

    def q_normalize_dedup(spark, sf_dir):
        """Normalization's payoff composed end-to-end: +100000 copies of
        every 10th doc carry DECOMPOSED accents (e+COMBINING ACUTE), so
        raw md5 dedup misses them; after NFC normalization the exact
        dedup groups them with their originals.  Output: per-group
        (keep_id, n_copies) for the groups with duplicates."""
        from ocr_system_spark.operators.normalize import normalize_text
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        tenth = d.filter(F.col("doc_id") % 10 == 0)
        composed = F.concat(F.col("text"), F.lit(" caf\u00e9"))
        decomposed = F.concat(F.col("text"), F.lit(" cafe\u0301"))
        corpus = (
            tenth.select("doc_id", composed.alias("text"))
            .union(tenth.select((F.col("doc_id") + 100000).alias("doc_id"),
                                decomposed.alias("text")))
            .union(d.filter(F.col("doc_id") % 10 != 0)))
        norm = normalize_text(corpus)
        return (
            norm.groupBy("norm_text")
            .agg(F.min("id").alias("keep_id"),
                 F.count(F.lit(1)).alias("n_copies"))
            .filter(F.col("n_copies") > 1)
            .select("keep_id", "n_copies"))

    q["normalize_dedup"] = q_normalize_dedup

    def q_lm_perplexity(spark, sf_dir):
        """CCNet-shaped LM quality scoring: an add-one bigram LM trained
        on the md5-lottery 'train' split scores the 'holdout' split.
        Each bigram's log term is quantized to integer micros BEFORE the
        per-doc sum, so the log-likelihood is integer-exact and
        order-independent (operators/lm.py).  The oracle replays split,
        training, and scoring end-to-end in SQL."""
        from ocr_system_spark.operators.lm import bigram_lm_score
        from ocr_system_spark.operators.sampling import with_split
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        s = with_split(d, holdout_sixteenths=2)
        return bigram_lm_score(s.filter(F.col("split") == "holdout"),
                               s.filter(F.col("split") == "train"))

    q["lm_perplexity"] = q_lm_perplexity

    def q_dsir_weights(spark, sf_dir):
        """DSIR data selection (Xie et al. 2023): importance log-weights
        of the 'holdout' split under hashed unigram+bigram models fitted
        on the 'train' split (target) vs the holdout itself (raw).
        Per-bucket log-likelihood ratios are quantized to integer micros
        before the tf-weighted sum, so weights are integer-exact
        (operators/dsir.py).  The oracle replays split, feature hashing
        (md5 hex-digit decode), both models, and scoring end-to-end."""
        from ocr_system_spark.operators.dsir import dsir_logweight
        from ocr_system_spark.operators.sampling import with_split
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        s = with_split(d, holdout_sixteenths=2)
        return dsir_logweight(s.filter(F.col("split") == "holdout"),
                              s.filter(F.col("split") == "train"))

    q["dsir_weights"] = q_dsir_weights

    def q_dsir_resample(spark, sf_dir):
        """DSIR Gumbel-top-k selection: deterministic md5-derived Gumbel
        draws (integer micros) added to the importance log-weights, top
        50 keys kept — sampling-without-replacement ∝ exp(weight),
        reproducible across engines (operators/dsir.py).  The plan is a
        TakeOrderedAndProject, never a full sort."""
        from ocr_system_spark.operators.dsir import (dsir_logweight,
                                                     dsir_resample)
        from ocr_system_spark.operators.sampling import with_split
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        s = with_split(d, holdout_sixteenths=2)
        w = dsir_logweight(s.filter(F.col("split") == "holdout"),
                           s.filter(F.col("split") == "train"))
        return dsir_resample(w, k=50)

    q["dsir_resample"] = q_dsir_resample

    def q_perplexity_tiers(spark, sf_dir):
        """CCNet's head/middle/tail bucketing: per-doc mean bigram NLL
        in integer micros (exact positive integer division — Spark `div`
        and DuckDB `//` agree on non-negative operands) binned into 3
        equal-count tiers by the scale-safe two-pass binning (tier 1 =
        lowest NLL = head)."""
        from ocr_system_spark.operators.lm import bigram_lm_score
        from ocr_system_spark.operators.quality_model import (
            quality_tiers_bucketed)
        from ocr_system_spark.operators.sampling import with_split
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        s = with_split(d, holdout_sixteenths=2)
        scored = bigram_lm_score(s.filter(F.col("split") == "holdout"),
                                 s.filter(F.col("split") == "train"))
        nll = scored.select(
            "id", F.expr("(-logprob_micro) div n_bigrams").alias("score"))
        return quality_tiers_bucketed(nll, n_tiers=3)

    q["perplexity_tiers"] = q_perplexity_tiers

    def q_host_pagerank(spark, sf_dir):
        """Host link-graph centrality (the Common-Crawl host-rank signal):
        5 rounds of integer-exact weighted PageRank (damping 17/20, ranks
        in micro-units of a 10^12 total mass) over a deterministic host
        graph — each doc on host h(doc_id % 23) links three arithmetic-
        derived hosts.  The oracle unrolls all 5 iterations as CTEs (the
        bpe_train precedent).  Plan: host-keyed joins/aggs only — the
        corpus-sized relation is touched once to build the edge list
        (operators/linkgraph.py)."""
        from ocr_system_spark.operators.linkgraph import host_edges, pagerank
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
        from ocr_system_spark.operators.retrieval import bm25_topk
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        queries_df = spark.createDataFrame(
            [(0, "table"), (0, "scan"), (1, "hash"), (1, "merge"),
             (2, "sort"), (2, "window"), (3, "spark"), (3, "fast"),
             (3, "line")],
            "query_id long, term string")
        return bm25_topk(d, queries_df, k=10)

    q["bm25_topk"] = q_bm25_topk

    def q_token_budget_mixture(spark, sf_dir):
        """Token-budget data mixing ("k tokens of lang X, m of lang Y"):
        per-lang char budgets consumed in md5-lottery order — en/de
        budget-bound, zh zeroed out, fr effectively unlimited, es on the
        None (no-limit) default.  The operator is the bucketed
        three-step (no corpus-sized prefix-sum window); the oracle
        states the NAIVE one-window cumulative definition — exact
        equivalence is the point (operators/sampling.py)."""
        from ocr_system_spark.operators.sampling import budget_sample
        d = tables.load(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars")
        return budget_sample(
            d, "lang",
            {"en": 30000, "de": 10000, "zh": 0, "fr": 999999999},
            weight_col="n_chars", default_budget=None)

    q["token_budget_mixture"] = q_token_budget_mixture

    def q_training_order(spark, sf_dir):
        """Deterministic global training-order shuffle: every doc gets a
        (shard, pos) — shard from two md5 hex digits mod 7, pos a dense
        shard-keyed row_number in ticket order.  Reading shards in order
        yields the same pseudorandom permutation on any engine
        (operators/sampling.py)."""
        from ocr_system_spark.operators.sampling import training_order
        d = tables.load(spark, sf_dir, "documents").select("doc_id")
        return training_order(d, n_shards=7)

    q["training_order"] = q_training_order

    def q_host_blocklist(spark, sf_dir):
        """Host-level curation (RefinedWeb/C4 site blocklist): per-doc
        hashed linear quality scores rolled up to a synthetic host
        (doc_id % 17); a host is blocked when its MEAN score < -5,
        decided by integer cross-multiplication (no float mean).  One
        map-side-combined host agg (operators/quality_model.py)."""
        from ocr_system_spark.operators.quality_model import (
            hashed_linear_score, host_quality_blocklist)
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        scored = hashed_linear_score(d)
        hosted = scored.select(
            F.concat(F.lit("h"), (F.col("id") % 17).cast("string"))
            .alias("host"), "score")
        return host_quality_blocklist(hosted, threshold_num=-5,
                                      threshold_den=1)

    q["host_blocklist"] = q_host_blocklist

    def q_html_title_meta(spark, sf_dir):
        """Trafilatura-class METADATA extraction riding along with the
        main-content pass: page title (first <title>, ASCII-whitespace
        collapsed) + h1 count over deterministically constructed pages.
        Regex-as-spec kernel (functions/html_extract.py::
        extract_title_batch) — the oracle replays page construction and
        both patterns verbatim in SQL."""
        ensure_package_on_executors(spark)
        html_expr = F.concat(
            F.lit("<html><head><title>  Doc "),
            F.col("doc_id").cast("string"),
            F.lit("\n("), F.col("lang"),
            F.lit(")  </title></head><body><h1>A</h1>"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit('<h1 class="x">B</h1>')).otherwise(F.lit("")),
            F.lit("<p>"), F.col("text"), F.lit("</p></body></html>"))
        src = (tables.load(spark, sf_dir, "documents")
               .select("doc_id", html_expr.alias("html")))
        schema = T.StructType([
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("title", T.StringType(), True),
            T.StructField("n_h1", T.IntegerType(), True)])

        def run(batches):
            from ocr_system_spark.functions.html_extract import (
                extract_title_batch)
            for pdf in batches:
                meta = extract_title_batch(pdf["html"].tolist())
                yield pd.DataFrame({
                    "doc_id": pdf["doc_id"].values,
                    "title": [t for t, _ in meta],
                    "n_h1": pd.array([n for _, n in meta],
                                     dtype="int32")})

        return src.mapInPandas(run, schema=schema)

    q["html_title_meta"] = q_html_title_meta

    def q_anchor_hosts(spark, sf_dir):
        """Anchor-text aggregation per target host (the classic search-
        quality signal: anchor text describes the TARGET): anchors
        extracted from deterministically constructed pages by pure JVM
        regexp expressions (operators/linkgraph.py::anchor_pairs —
        relative hrefs drop out), then per-host totals + the most
        frequent anchor text (ties to smallest, deterministic).  The
        oracle replays construction, both regex passes, and the
        frequency window verbatim."""
        from ocr_system_spark.operators.linkgraph import (
            anchor_host_stats, anchor_pairs)
        d = tables.load(spark, sf_dir, "documents").select("doc_id")
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
        pages = d.select("doc_id", html.alias("html"))
        return anchor_host_stats(anchor_pairs(pages))

    q["anchor_hosts"] = q_anchor_hosts

    def q_page_link_pagerank(spark, sf_dir):
        """The link-graph tier END-TO-END: pages → anchor extraction
        (pure-JVM regexp) → weighted host graph → 5 rounds of
        integer-exact PageRank.  Each page's own host is h(doc_id %
        11).example, so the graph is the REAL extracted one — the oracle
        composes the anchor-extraction CTEs with the unrolled PageRank
        iteration chain (both shared with their standalone queries)."""
        from ocr_system_spark.operators.linkgraph import (
            anchor_pairs, host_edges, pagerank)
        d = tables.load(spark, sf_dir, "documents").select("doc_id")
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
        pairs = anchor_pairs(d.select("doc_id", html.alias("html")))
        links = pairs.select(
            F.concat(F.lit("h"), (F.col("id") % 11).cast("string"),
                     F.lit(".example")).alias("src"),
            F.col("host").alias("dst"))
        return (pagerank(host_edges(links), n_iter=5)
                .select(F.col("node").alias("host"), "rank_micro"))

    q["page_link_pagerank"] = q_page_link_pagerank

    def q_lm_backoff(spark, sf_dir):
        """Stupid Backoff trigram scoring (Brants et al. 2007 — the
        count-ratio backoff designed for MapReduce-scale LMs): the
        md5-lottery train split is the model, the holdout split is
        scored; per trigram type c123/c12 → 0.4·c23/c2 → 0.4²·add-one
        unigram floor, each log term quantized to integer micros before
        the tf-weighted sum (operators/lm.py).  The oracle replays
        split + all three model relations + the CASE chain verbatim."""
        from ocr_system_spark.operators.lm import stupid_backoff_score
        from ocr_system_spark.operators.sampling import with_split
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        s = with_split(d, holdout_sixteenths=2)
        return stupid_backoff_score(
            s.filter(F.col("split") == "holdout"),
            s.filter(F.col("split") == "train"))

    q["lm_backoff"] = q_lm_backoff

    def q_cluster_balanced_sample(spark, sf_dir):
        """Cluster-balanced sampling (the DataComp/SemDeDup curation
        move: cap documents per SEMANTIC cluster so no topic dominates):
        trained IVF centroids assign every embedding a cell (map-only,
        argmax cosine, ties to the lower cell), then the md5-lottery
        per-group cap keeps ≤5 per cell.  The oracle replays training
        end-to-end (the ivf_train_topk chain), the assignment, and the
        lottery window (operators/similarity.py + sampling.py)."""
        ensure_package_on_executors(spark)
        from ocr_system_spark.operators.sampling import cap_per_group
        from ocr_system_spark.operators.similarity import (
            ivf_assign, train_ivf_centroids)
        e = tables.load(spark, sf_dir, "embeddings")
        cents = train_ivf_centroids(e, n_centroids=16, iters=2)
        assign = ivf_assign(e, cents)
        return cap_per_group(assign, "cell", cap=5, id_col="vec_id")

    q["cluster_balanced_sample"] = q_cluster_balanced_sample

    def q_site_table(spark, sf_dir):
        """The SITE CURATION TABLE — the per-host artifact a RefinedWeb-
        class pipeline maintains: link-graph PageRank (from extracted
        anchors), host-rolled quality (integer-exact mean threshold),
        and anchor in-link counts, joined on one shared host space
        (h(doc_id % 11).example).  Three host-sized relations, host-keyed
        joins; the oracle composes the anchor, PageRank, and blocklist
        CTE chains already proven standalone."""
        from ocr_system_spark.operators.linkgraph import (
            anchor_pairs, host_edges, pagerank)
        from ocr_system_spark.operators.quality_model import (
            hashed_linear_score, host_quality_blocklist)
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
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
        pairs = anchor_pairs(d.select("doc_id", html.alias("html")))

        def hostify(c):
            return F.concat(F.lit("h"), (c % 11).cast("string"),
                            F.lit(".example"))

        links = pairs.select(hostify(F.col("id")).alias("src"),
                             F.col("host").alias("dst"))
        pr = (pagerank(host_edges(links), n_iter=5)
              .select(F.col("node").alias("host"), "rank_micro"))
        scored = hashed_linear_score(d)
        hq = host_quality_blocklist(
            scored.select(hostify(F.col("id")).alias("host"), "score"),
            threshold_num=-5, threshold_den=1)
        at = pairs.groupBy("host").agg(
            F.count(F.lit(1)).cast("long").alias("n_inlinks"))
        return pr.join(hq, "host").join(at, "host")

    q["site_table"] = q_site_table

    return _reorder_for_driver_window(q)


# The driver's CORRECTNESS snapshot records the FIRST ~50 queries() entries
# (dict order).  With >50 registered queries, registration order decides
# which operators get a driver-recorded correctness row each round — so the
# queries that most need the hard external signal (added after the previous
# round's window, or never driver-recorded) are promoted to the front, and
# the rest keep their registration order.  Rotate this list per round: once
# a query has a driver-recorded row, move it out of the priority block.
_DRIVER_WINDOW_PRIORITY = [
    # round-6 rotation: the 50 names holding fresh r05 driver rows are
    # dropped from the block; the 64 whose freshest row is r04 or older
    # are promoted, OLDEST driver row first (r03 block, then r04 in
    # registration order), so every query stays ≤ 2 rounds from a
    # driver-recorded correctness row.
    "pivot_counts",
    "quality_features",
    "range_join",
    "rollup",
    "semi_join",
    "sessionize",
    "set_ops",
    "sort_limit",
    "static_fields_raw",
    "string_funcs",
    "token_counts",
    "union_distinct",
    "window_topk",
    "winnow_fingerprint",
    # — everything below last recorded r04 —
    "html_main_extract",
    "field_license_id",
    "field_date",
    "field_reference_id",
    "field_address",
    "field_start_date",
    "field_end_date",
    "field_licenses",
    "field_renew_times",
    "dedup_ngram_guarded",
    "model_extract",
    "repetition_stats",
    "gopher_quality",
    "dedup_components",
    "curation_pipeline",
    "dedup_keep_best",
    "decontaminate",
    "zscore_by_lang",
    "quantiles",
    "pii_scrub",
    "timestamp_window",
    "dup_spans",
    "dup_span_mass",
    "dup_span_removal",
    "url_canon_dedup",
    "dedup_incremental",
    "dedup_index_update",
    "ivf_train_topk",
    "doc_chunks",
    "pack_chunks",
    "host_cap",
    "hash_split",
    "top_terms",
    "embedding_topk_int8",
    "line_hot",
    "line_dedup",
    "template_strip",
    "c4_filters",
    "unigram_freq",
    "intra_doc_dup",
    "bpe_train",
    "bpe_encode",
    "quality_model_score",
    "quality_model_table_score",
    "crawl_diff",
    "host_split",
    "quality_tiers",
    "tier_mixture",
    "normalize_text",
    "normalize_dedup",
]


def _reorder_for_driver_window(q: dict) -> dict:
    front = {k: q[k] for k in _DRIVER_WINDOW_PRIORITY if k in q}
    rest = {k: v for k, v in q.items() if k not in front}
    return {**front, **rest}


def oracle_max_sf() -> dict[str, float]:
    """Advisory per-query cap on the scale factor at which the DuckDB
    oracle should be replayed.  The five quadratic-ORACLE queries below
    (exact all-pairs / recursive-CTE replays of blocked Spark plans) cost
    ~55 minutes of DuckDB at sf0.1 combined; at the driver's sf0.01 they
    run in seconds and still exercise identical semantics.  Every query
    absent from this dict is linear-oracle and safe at any tested sf.
    (All five HAVE passed at sf0.1 — see COVERAGE.md — this hint exists so
    routine correctness runs stay fast as the query count grows.)"""
    return {
        "dedup_ngram_jaccard": 0.01,
        "dedup_minhash_lsh": 0.01,
        "dedup_simhash": 0.01,
        "dedup_components": 0.01,
        "curation_pipeline": 0.01,
        "dedup_ngram_guarded": 0.01,
        "dedup_keep_best": 0.01,
        # dedup_index_update left the list in round 5: its oracle is now
        # the sub-quadratic band replay (passes at sf0.1 in ~1 min)
    }


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    # extraction kernels vs INDEPENDENTLY computed expectations
    o["html_main_extract"] = (
        "SELECT doc_id, text AS extracted_text FROM documents"
    )
    o["field_license_id"] = (
        "SELECT doc_id, 'LIC-' || CAST(doc_id*37 % 90000 + 10000 AS VARCHAR) AS license_id FROM documents"
    )
    o["field_date"] = (
        "SELECT doc_id, lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || '/05/2024' AS date FROM documents"
    )
    o["field_reference_id"] = (
        "SELECT doc_id, 'AB' || CAST(doc_id*13 % 9000 + 1000 AS VARCHAR) AS reference_id FROM documents"
    )
    o["field_address"] = (
        "SELECT doc_id, CAST(doc_id % 400 + 1 AS VARCHAR) || ' Main St, Zone ' || CAST(doc_id % 9 + 1 AS VARCHAR) AS address FROM documents"
    )
    o["field_start_date"] = (
        "SELECT doc_id, CAST(doc_id % 27 + 1 AS VARCHAR) || '.5.2025' AS start_date FROM documents"
    )
    o["field_end_date"] = (
        "SELECT doc_id, '12.06.2026' AS end_date FROM documents"
    )
    o["field_licenses"] = (
        "SELECT doc_id, 'NO. ' || CAST(doc_id % 9999 + 1 AS VARCHAR) || ' (R' || CAST(doc_id % 98 + 1 AS VARCHAR) || ')' AS licenses FROM documents"
    )
    o["field_renew_times"] = (
        "SELECT doc_id, CAST(doc_id % 98 + 1 AS VARCHAR) || ' times' AS renew_times FROM documents"
    )
    # raw-text static projection: DuckDB RE2 shadow of the priority chains
    o["static_fields_raw"] = """
        SELECT doc_id,
               COALESCE(
                 NULLIF(regexp_extract(text, '(?i)\\bLIC[-_\\s]?\\d{3,}\\b', 0), ''),
                 NULLIF(regexp_extract(text, '(?i)\\bLicense\\s*ID[:#-]*\\s*([A-Z0-9]{6,20})\\b', 1), ''),
                 NULLIF(regexp_extract(text, '(?i)\\b[A-Z0-9]{6,20}\\b', 0), '')
               ) AS license_id,
               COALESCE(
                 NULLIF(regexp_extract(text, '(?i)\\bREF[-_\\s]*([A-Z0-9]{4,10})\\b', 1), ''),
                 NULLIF(regexp_extract(text, '(?i)\\b(?:Reference|Ref)[\\s:#-]*([A-Z0-9-]{4,10})\\b', 1), ''),
                 NULLIF(regexp_extract(text, '(?i)\\b[A-Z0-9]{4,10}\\b', 0), '')
               ) AS reference_id,
               CASE WHEN
                 COALESCE(
                   NULLIF(regexp_extract(text, '(?i)\\bLIC[-_\\s]?\\d{3,}\\b', 0), ''),
                   NULLIF(regexp_extract(text, '(?i)\\bLicense\\s*ID[:#-]*\\s*([A-Z0-9]{6,20})\\b', 1), ''),
                   NULLIF(regexp_extract(text, '(?i)\\b[A-Z0-9]{6,20}\\b', 0), '')
                 ) IS NULL
                 AND regexp_extract(text, '(?i)\\b\\d{2}[/-]\\d{2}[/-]\\d{4}\\b', 0) = ''
                 AND regexp_extract(text, '(?i)\\b\\d{4}[/-]\\d{2}[/-]\\d{2}\\b', 0) = ''
                 AND COALESCE(
                   NULLIF(regexp_extract(text, '(?i)\\bREF[-_\\s]*([A-Z0-9]{4,10})\\b', 1), ''),
                   NULLIF(regexp_extract(text, '(?i)\\b(?:Reference|Ref)[\\s:#-]*([A-Z0-9-]{4,10})\\b', 1), ''),
                   NULLIF(regexp_extract(text, '(?i)\\b[A-Z0-9]{4,10}\\b', 0), '')
                 ) IS NULL
               THEN 'No patterns matched' ELSE NULL END AS notes
        FROM documents
    """

    o["nonempty_filter"] = """
        SELECT * FROM (
            SELECT doc_id,
                   COALESCE(
                     NULLIF(regexp_extract(text, '(?i)\\bLIC[-_\\s]?\\d{3,}\\b', 0), ''),
                     NULLIF(regexp_extract(text, '(?i)\\bLicense\\s*ID[:#-]*\\s*([A-Z0-9]{6,20})\\b', 1), ''),
                     NULLIF(regexp_extract(text, '(?i)\\b[A-Z0-9]{6,20}\\b', 0), '')
                   ) AS license_id,
                   COALESCE(
                     NULLIF(regexp_extract(text, '(?i)\\bREF[-_\\s]*([A-Z0-9]{4,10})\\b', 1), ''),
                     NULLIF(regexp_extract(text, '(?i)\\b(?:Reference|Ref)[\\s:#-]*([A-Z0-9-]{4,10})\\b', 1), ''),
                     NULLIF(regexp_extract(text, '(?i)\\b[A-Z0-9]{4,10}\\b', 0), '')
                   ) AS reference_id
            FROM documents) t
        WHERE trim(COALESCE(license_id, '')) != ''
           OR trim(COALESCE(reference_id, '')) != ''
    """

    # relational
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
    # ---- training-data pipeline oracles ------------------------------------

    o["dedup_exact"] = """
        WITH u AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000, text FROM documents)
        SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keep_id
        FROM u GROUP BY md5(text)
    """

    _SHINGLE_BASE = r"""
        base AS (
            SELECT doc_id AS id, lang, trim(text) AS t FROM documents
            UNION ALL
            SELECT doc_id + 100000, lang,
                   array_to_string(
                     regexp_split_to_array(trim(text), '\s+')[2:len(regexp_split_to_array(trim(text), '\s+'))],
                     ' ')
            FROM documents),
        sh AS (
            SELECT id, lang,
                   list_distinct(list_transform(range(1, len(w) - 1),
                                                i -> array_to_string(w[i:i+2], ' '))) AS s
            FROM (SELECT id, lang, regexp_split_to_array(t, '\s+') AS w FROM base)
            WHERE len(w) >= 3)
    """
    o["dedup_ngram_jaccard"] = f"""
        WITH {_SHINGLE_BASE}
        SELECT id_a, id_b, inter, uni FROM (
            SELECT a.id AS id_a, b.id AS id_b,
                   len(list_intersect(a.s, b.s)) AS inter,
                   len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni
            FROM sh a JOIN sh b ON a.lang = b.lang AND a.id < b.id)
        WHERE inter >= 1 AND 100 * inter >= 50 * uni
    """
    # guard-aware oracle: replays the frequent-shingle guard GENERICALLY —
    # global shingle doc-frequency is computed from the data and shingles
    # with freq > max_group(=150) are dropped from every doc's set BEFORE
    # sizing or pairing, exactly the operator's contract. Values (inter,
    # uni) differ between guarded and unguarded answers by construction,
    # so a hash-PASS here is proof the Spark guard fired.
    o["dedup_ngram_guarded"] = r"""
        WITH ids AS (
            SELECT doc_id,
                   CAST(doc_id // 2 AS VARCHAR) AS g,
                   CAST((doc_id // 2) % 16 AS VARCHAR) AS x
            FROM documents),
        docs AS (
            SELECT doc_id,
                   'z0 z1 z2 ma' || x || ' mb' || x || ' mc' || x
                   || ' pa' || g || ' pb' || g || ' pc' || g
                   || ' u' || CAST(doc_id AS VARCHAR) AS text
            FROM ids),
        sh AS (
            SELECT doc_id AS id,
                   list_distinct(list_transform(range(1, len(w) - 1),
                                                i -> array_to_string(w[i:i+2], ' '))) AS s
            FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM docs)
            WHERE len(w) >= 3),
        ex AS (SELECT id, unnest(s) AS shingle FROM sh),
        freq AS (SELECT shingle, count(*) AS gcnt FROM ex GROUP BY shingle),
        kept AS (
            SELECT id, shingle FROM ex JOIN freq USING (shingle)
            WHERE gcnt <= 150),
        sizes AS (SELECT id, count(*) AS n_sh FROM kept GROUP BY id),
        ip AS (
            SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
            FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.id < b.id
            GROUP BY a.id, b.id)
        SELECT id_a, id_b, inter, sa.n_sh + sb.n_sh - inter AS uni
        FROM ip
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE 100 * inter >= 50 * (sa.n_sh + sb.n_sh - inter)
    """
    o["dedup_minhash_lsh"] = f"""
        WITH {_SHINGLE_BASE}
        SELECT id_a, id_b, inter, uni FROM (
            SELECT a.id AS id_a, b.id AS id_b,
                   len(list_intersect(a.s, b.s)) AS inter,
                   len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni
            FROM sh a JOIN sh b ON a.id < b.id)
        WHERE inter >= 1 AND 100 * inter >= 70 * uni
    """
    # SimHash oracle: recompute the WHOLE signature in SQL. The token hash
    # is DuckDB's own md5_number_lower (the Spark kernel mirrors its exact
    # byte semantics), the per-bit weighted vote is a 64-way grouped sum,
    # and the pair check is an exact all-pairs hamming join (the Spark side
    # proves its 4x16-bit banding is lossless by matching it).
    o["dedup_simhash"] = """
        WITH u AS (
            SELECT doc_id AS id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000,
                   array_to_string(
                     regexp_split_to_array(trim(text), '\\s+')[2:len(regexp_split_to_array(trim(text), '\\s+'))],
                     ' ')
            FROM documents),
        tok AS (
            SELECT id, unnest(regexp_extract_all(text, '[^\\t\\n\\f\\r ]+')) AS tok
            FROM u),
        th AS (
            SELECT id, md5_number_lower(tok) AS h, count(*) AS cnt
            FROM tok GROUP BY id, md5_number_lower(tok)),
        bits AS (
            SELECT th.id, r.j,
                   CASE WHEN sum(cnt * (2 * CAST((h >> CAST(r.j AS INTEGER)) & 1 AS BIGINT) - 1)) >= 0
                        THEN 1 ELSE 0 END AS bit
            FROM th, range(64) r(j)
            GROUP BY th.id, r.j),
        sig0 AS (
            -- CAST the sum back to BIGINT: DuckDB sums BIGINT into HUGEINT,
            -- and a 128-bit two's-complement xor/bit_count would add 64
            -- sign-extension bits whenever the two signatures differ in sign
            SELECT id,
                   CAST(sum(CASE WHEN j = 63
                            THEN bit * CAST('-9223372036854775808' AS BIGINT)
                            ELSE bit * (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
                       END) AS BIGINT) AS simhash
            FROM bits GROUP BY id),
        sig AS (
            SELECT u.id, COALESCE(s.simhash, 0) AS simhash
            FROM u LEFT JOIN sig0 s ON u.id = s.id)
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM sig a JOIN sig b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """

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
    from ocr_system_spark.operators.similarity import (
        DUP_PLANES, DUP_TABLES, LSH_TOPK_PLANES, LSH_TOPK_TABLES, _srp_planes)

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
    o["url_canon_dedup"] = """
        WITH w AS (
            SELECT doc_id, CASE CAST(doc_id % 5 AS INTEGER)
                WHEN 0 THEN 'HTTP://Example.COM:80/a/b/?utm_source=feed&x='
                            || CAST(doc_id // 5 AS VARCHAR)
                WHEN 1 THEN 'http://example.com/a/b?x='
                            || CAST(doc_id // 5 AS VARCHAR)
                WHEN 2 THEN 'https://Sub.Example.com:443/p/'
                            || CAST(doc_id // 5 AS VARCHAR) || '/'
                WHEN 3 THEN 'https://sub.example.com/p/'
                            || CAST(doc_id // 5 AS VARCHAR) || '#frag'
                ELSE 'http://example.com:8080/q?gclid=xyz&utm_campaign=c'
                END AS url
            FROM documents),
        c0 AS (SELECT doc_id, trim(url) AS u FROM w),
        c1 AS (SELECT doc_id,
                      lower(split_part(u, '://', 1)) AS scheme,
                      split_part(split_part(u, '://', 2), '#', 1) AS rest
               FROM c0),
        c2 AS (SELECT *,
                      CASE WHEN strpos(rest, '/') > 0
                           THEN substr(rest, 1, strpos(rest, '/') - 1)
                           ELSE rest END AS hostport,
                      CASE WHEN strpos(rest, '/') > 0
                           THEN substr(rest, strpos(rest, '/'))
                           ELSE '' END AS pathq
               FROM c1),
        c3 AS (SELECT *,
                      lower(CASE WHEN strpos(hostport, ':') > 0
                                 THEN substr(hostport, 1, strpos(hostport, ':') - 1)
                                 ELSE hostport END) AS host,
                      CASE WHEN strpos(hostport, ':') > 0
                           THEN substr(hostport, strpos(hostport, ':') + 1)
                           ELSE '' END AS port0
               FROM c2),
        c4 AS (SELECT *,
                      CASE WHEN (scheme = 'http' AND port0 = '80')
                             OR (scheme = 'https' AND port0 = '443')
                           THEN '' ELSE port0 END AS port,
                      CASE WHEN strpos(pathq, '?') > 0
                           THEN substr(pathq, 1, strpos(pathq, '?') - 1)
                           ELSE pathq END AS path,
                      CASE WHEN strpos(pathq, '?') > 0
                           THEN substr(pathq, strpos(pathq, '?') + 1)
                           ELSE '' END AS qs
               FROM c3),
        c5 AS (SELECT *,
                      array_to_string(list_filter(string_split(qs, '&'),
                          x -> x != '' AND NOT regexp_matches(x,
                               '^(utm_[^=]*|gclid|fbclid|ref)=')), '&') AS qs2,
                      CASE WHEN regexp_replace(path, '/+$', '') = ''
                           THEN '/'
                           ELSE regexp_replace(path, '/+$', '') END AS path2
               FROM c4),
        canon AS (SELECT doc_id,
                         scheme || '://' || host
                         || CASE WHEN port != '' THEN ':' || port ELSE '' END
                         || path2
                         || CASE WHEN qs2 != '' THEN '?' || qs2 ELSE '' END
                         AS canon_url
                  FROM c5)
        SELECT canon_url, count(*) AS n_copies, min(doc_id) AS keep_id
        FROM canon GROUP BY canon_url
    """

    # ---- incremental-dedup oracles: FULL band replay, no LSH-recall
    # assumption.  The word hash is md5_number_lower (pinned in
    # operators/dedup._hashed_shingles_one), so DuckDB can replay the
    # entire MinHash chain: word hash -> position-weighted wrapping mix
    # (32-bit-split multiply mod 2^64 in HUGEINT) -> 64 affine
    # permutations mod 2^31-1 -> 16x4 band buckets (keyed on the raw
    # slot concat -- equality-equivalent to Spark's xxhash64 of it) ->
    # candidate pairs -> exact hash-set verification.  A marginal-Jaccard
    # pair the LSH misses is missed IDENTICALLY by both engines.
    from ocr_system_spark.operators.dedup import (
        MINHASH_BANDS, MINHASH_K, MINHASH_ROWS, _minhash_params as _mhp)

    _MH_PA = "[" + ",".join(str(a) for a, _ in _mhp()) + "]"
    _MH_PB = "[" + ",".join(str(b) for _, b in _mhp()) + "]"
    _MH_MIX = [0x9E3779B97F4A7C15, 0xBF58476D1CE4E5B9, 0x94D049BB133111EB]

    def _mh_mul(i: str, m: int) -> str:
        """(md5_number_lower(w[i]) * m) mod 2^64 via 32-bit split (a
        direct HUGEINT product of two ~2^64 values overflows INT128)."""
        mh, ml = m >> 32, m & 0xFFFFFFFF
        u = f"md5_number_lower(w[{i}])"
        return (f"CAST(((CAST({u} % 4294967296 AS HUGEINT) * {ml}"
                f" + ((CAST({u} % 4294967296 AS HUGEINT) * {mh}"
                f" + CAST({u} // 4294967296 AS HUGEINT) * {ml})"
                f" % 4294967296) * 4294967296)"
                f" % 18446744073709551616) AS UBIGINT)")

    # h (UBIGINT shingle hash) -> signed-int64 view -> mod 2^31-1,
    # Python/numpy sign semantics (non-negative)
    _MH_HV = ("CAST((((CASE WHEN h >= 9223372036854775808 "
              "THEN CAST(h AS HUGEINT) - 18446744073709551616 "
              "ELSE CAST(h AS HUGEINT) END) % 2147483647 + 2147483647) "
              "% 2147483647) AS BIGINT)")

    def _mh_sig_ctes(tag: str, src: str) -> str:
        """sh/sig/band CTEs (sh{tag}, sig{tag}, band{tag}) over a source
        CTE ``src`` with columns (id, t)."""
        shingle = ("xor(xor(" + _mh_mul("i", _MH_MIX[0]) + ", "
                   + _mh_mul("i+1", _MH_MIX[1]) + "), "
                   + _mh_mul("i+2", _MH_MIX[2]) + ")")
        return f"""
        w{tag} AS (SELECT id, regexp_split_to_array(t, '\\s+') AS w
                   FROM {src}),
        sh{tag} AS (SELECT id,
                   list_distinct(list_transform(range(1, len(w) - 1),
                                                i -> {shingle})) AS sh
            FROM w{tag} WHERE len(w) >= 3),
        sig{tag} AS (SELECT id, sh,
                   list_transform(range(1, {MINHASH_K + 1}), j ->
                       list_min(list_transform(sh, h ->
                           ({_MH_HV} * pa[CAST(j AS INTEGER)]
                            + pb[CAST(j AS INTEGER)]) % 2147483647)))
                   AS sig
            FROM sh{tag}, mh_params),
        band{tag} AS (SELECT id, j,
                   array_to_string(sig[{MINHASH_ROWS}*CAST(j AS INTEGER)+1
                                       :{MINHASH_ROWS}*CAST(j AS INTEGER)+{MINHASH_ROWS}], ',')
                   AS bkey
            FROM sig{tag}
            CROSS JOIN (SELECT unnest(range(0, {MINHASH_BANDS})) AS j))"""

    _MH_SOURCES = r"""
        bi AS (SELECT doc_id AS id, trim(text) AS t FROM documents),
        bb AS (
            SELECT doc_id + 100000 AS id,
                   array_to_string(
                     regexp_split_to_array(trim(text), '\s+')[2:len(regexp_split_to_array(trim(text), '\s+'))],
                     ' ') AS t
            FROM documents WHERE doc_id % 5 = 0)"""

    o["dedup_incremental"] = f"""
        WITH {_MH_SOURCES},
        mh_params AS (SELECT {_MH_PA} AS pa, {_MH_PB} AS pb),
        {_mh_sig_ctes("i", "bi")},
        {_mh_sig_ctes("b", "bb")},
        cand AS (SELECT DISTINCT i.id AS index_id, b.id AS batch_id
                 FROM bandi i JOIN bandb b
                   ON i.j = b.j AND i.bkey = b.bkey
                 WHERE i.id != b.id)
        SELECT index_id, batch_id, inter, uni FROM (
            SELECT c.index_id, c.batch_id,
                   len(list_intersect(si.sh, sb.sh)) AS inter,
                   len(si.sh) + len(sb.sh)
                       - len(list_intersect(si.sh, sb.sh)) AS uni
            FROM cand c
            JOIN sigi si ON si.id = c.index_id
            JOIN sigb sb ON sb.id = c.batch_id)
        WHERE 100 * inter >= 70 * uni
    """

    # index-update oracle: next index version's id set, with BOTH legs
    # (cross and within-batch) derived from band-replay candidates — the
    # exact relation update_minhash_index persists, recall-free.
    _MH_SOURCES_UPD = r"""
        bi AS (SELECT doc_id AS id, trim(text) AS t FROM documents),
        bb AS (
            SELECT doc_id + 100000 AS id,
                   array_to_string(
                     regexp_split_to_array(trim(text), '\s+')[2:len(regexp_split_to_array(trim(text), '\s+'))],
                     ' ') AS t
            FROM documents WHERE doc_id % 5 = 0
            UNION ALL
            SELECT doc_id + 200000 AS id,
                   array_to_string(
                     list_reverse(regexp_split_to_array(trim(text), '\s+')),
                     ' ') AS t
            FROM documents WHERE doc_id % 5 = 1)"""

    o["dedup_index_update"] = f"""
        WITH {_MH_SOURCES_UPD},
        mh_params AS (SELECT {_MH_PA} AS pa, {_MH_PB} AS pb),
        {_mh_sig_ctes("i", "bi")},
        {_mh_sig_ctes("b", "bb")},
        cross_dup AS (
            SELECT DISTINCT batch_id AS id FROM (
                SELECT c.batch_id,
                       len(list_intersect(si.sh, sb.sh)) AS inter,
                       len(si.sh) + len(sb.sh)
                           - len(list_intersect(si.sh, sb.sh)) AS uni
                FROM (SELECT DISTINCT i.id AS index_id, b.id AS batch_id
                      FROM bandi i JOIN bandb b
                        ON i.j = b.j AND i.bkey = b.bkey
                      WHERE i.id != b.id) c
                JOIN sigi si ON si.id = c.index_id
                JOIN sigb sb ON sb.id = c.batch_id)
            WHERE 100 * inter >= 70 * uni),
        within_dup AS (
            SELECT DISTINCT id_b AS id FROM (
                SELECT c.id_b,
                       len(list_intersect(sa.sh, sb.sh)) AS inter,
                       len(sa.sh) + len(sb.sh)
                           - len(list_intersect(sa.sh, sb.sh)) AS uni
                FROM (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                      FROM bandb a JOIN bandb b
                        ON a.j = b.j AND a.bkey = b.bkey AND a.id < b.id) c
                JOIN sigb sa ON sa.id = c.id_a
                JOIN sigb sb ON sb.id = c.id_b)
            WHERE 100 * inter >= 70 * uni)
        SELECT id FROM sigi
        UNION ALL
        SELECT id FROM sigb
        WHERE id NOT IN (SELECT id FROM cross_dup)
          AND id NOT IN (SELECT id FROM within_dup)
          AND id NOT IN (SELECT id FROM sigi)
    """
    # fuzzy_dedup_e2e: full band replay (recall-free candidate parity) →
    # exact-Jaccard verify → recursive-CTE components → keep-best ranking.
    o["fuzzy_dedup_e2e"] = f"""
        WITH RECURSIVE
        be AS (SELECT doc_id AS id, trim(text) AS t FROM documents
               UNION ALL
               SELECT doc_id + 100000, trim(text) || ' zzqx zzqy'
               FROM documents),
        mh_params AS (SELECT {_MH_PA} AS pa, {_MH_PB} AS pb),
        {_mh_sig_ctes("e", "be")},
        cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                 FROM bande a JOIN bande b
                   ON a.j = b.j AND a.bkey = b.bkey AND a.id < b.id),
        pairs AS (SELECT id_a, id_b FROM (
                    SELECT c.id_a, c.id_b,
                           len(list_intersect(sa.sh, sb.sh)) AS inter,
                           len(sa.sh) + len(sb.sh)
                               - len(list_intersect(sa.sh, sb.sh)) AS uni
                    FROM cand c
                    JOIN sige sa ON sa.id = c.id_a
                    JOIN sige sb ON sb.id = c.id_b)
                  WHERE 100 * inter >= 70 * uni),
        sym AS (SELECT id_a AS u, id_b AS v FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
        nodes AS (SELECT DISTINCT id FROM be),
        walk(id, reach) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT k.id, s.v FROM walk k JOIN sym s ON s.u = k.reach),
        comp AS (SELECT id, min(reach) AS comp FROM walk GROUP BY id),
        score AS (
            SELECT id, CAST(len(regexp_extract_all(t, '\\S+')) AS BIGINT)
                       AS ws_tokens
            FROM be),
        ranked AS (
            SELECT c.id, c.comp, s.ws_tokens,
                   row_number() OVER (PARTITION BY c.comp
                                      ORDER BY s.ws_tokens DESC, c.id) AS rn
            FROM comp c JOIN score s USING (id))
        SELECT id AS doc_id, comp, ws_tokens FROM ranked WHERE rn = 1
    """
    o["token_counts"] = r"""
        SELECT doc_id,
               len(regexp_extract_all(text, '\S+')) AS ws_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|\d+|[^\sA-Za-z\d]')) AS bpeish_tokens
        FROM documents
    """
    o["quality_features"] = r"""
        SELECT doc_id,
               CAST(strlen(text) AS BIGINT) AS n_chars,
               len(regexp_extract_all(text, '\S+')) AS n_words,
               len(list_filter(regexp_extract_all(lower(text), '\S+'),
                   w -> list_contains(['the','a','an','and','or','of','to','in','is','are','was','were','be','been','it','this','that'], w))) AS n_stopwords,
               round(len(regexp_extract_all(text, '[^\sA-Za-z0-9]')) * 1.0
                     / strlen(text), 6) AS punct_ratio,
               CASE WHEN len(regexp_extract_all(text, '[A-Za-z]')) > 0
                    THEN round(len(regexp_extract_all(text, '[A-Z]')) * 1.0
                               / len(regexp_extract_all(text, '[A-Za-z]')), 6)
                    ELSE 0.0 END AS upper_ratio
        FROM documents
    """

    # language-ID oracle: replicate the trigram-profile scoring in SQL,
    # generated from the same profile constants (independent evaluation path)
    from ocr_system_spark.functions.textstats import _LANG_PROFILES, _LANGS
    score_exprs = {
        lang: "(" + " + ".join(
            f"CASE WHEN contains(pt, '{g}') THEN 1 ELSE 0 END"
            for g in _LANG_PROFILES[lang]
        ) + ")"
        for lang in _LANGS
    }
    mx = "greatest(" + ", ".join(f"s_{lang}" for lang in _LANGS) + ")"
    pred_chain = " ".join(
        f"WHEN s_{lang} = {mx} THEN '{lang}'" for lang in _LANGS
    )
    o["langid"] = f"""
        WITH scored AS (
            SELECT doc_id,
                   {", ".join(f"{score_exprs[lang]} AS s_{lang}" for lang in _LANGS)}
            FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS pt FROM documents))
        SELECT doc_id,
               CASE WHEN {mx} = 0 THEN 'und' {pred_chain} END AS lang_pred
        FROM scored
    """

    o["fingerprint_md5"] = "SELECT doc_id, md5(text) AS fp FROM documents"

    o["doc_chunks"] = """
        WITH w0 AS (
            SELECT doc_id AS id,
                   regexp_extract_all(text, '[^\t\n\f\r ]+') AS w
            FROM documents),
        b AS (SELECT id, w, len(w) AS n FROM w0 WHERE len(w) > 0),
        c AS (
            SELECT id, w, n,
                   unnest(range(0, CASE WHEN n <= 16 THEN 1
                                        ELSE 1 + (n - 16 + 11) // 12
                                   END)) AS chunk_id
            FROM b),
        p AS (
            SELECT id, chunk_id,
                   w[CAST(chunk_id*12 + 1 AS INTEGER):CAST(chunk_id*12 + 16 AS INTEGER)] AS piece
            FROM c)
        SELECT id, CAST(chunk_id AS BIGINT) AS chunk_id,
               array_to_string(piece, ' ') AS chunk_text,
               CAST(len(piece) AS BIGINT) AS n_tokens
        FROM p
    """

    # packing oracle: replay chunking, then the shard-local running token
    # count in (id, chunk_id) order and the grid cut pack = cum//budget
    o["pack_chunks"] = """
        WITH w0 AS (
            SELECT doc_id AS id,
                   regexp_extract_all(text, '[^\t\n\f\r ]+') AS w
            FROM documents),
        b AS (SELECT id, w, len(w) AS n FROM w0 WHERE len(w) > 0),
        c AS (
            SELECT id, w, n,
                   unnest(range(0, CASE WHEN n <= 16 THEN 1
                                        ELSE 1 + (n - 16 + 11) // 12
                                   END)) AS chunk_id
            FROM b),
        p AS (
            SELECT id, chunk_id,
                   len(w[CAST(chunk_id*12 + 1 AS INTEGER):CAST(chunk_id*12 + 16 AS INTEGER)]) AS n_tokens
            FROM c),
        s AS (
            SELECT id, chunk_id, n_tokens, id % 8 AS shard FROM p),
        cum AS (
            SELECT id, chunk_id, shard,
                   CAST(coalesce(sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY id, chunk_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before
            FROM s)
        SELECT id, CAST(chunk_id AS BIGINT) AS chunk_id,
               CAST(shard AS BIGINT) AS shard,
               CAST(shard * 1099511627776 + cum_before // 64 AS BIGINT) AS pack_id,
               CAST(cum_before % 64 AS BIGINT) AS pack_offset
        FROM cum
    """
    # host-cap oracle: the same md5 lottery as a window rank
    o["host_cap"] = """
        SELECT doc_id, host FROM (
            SELECT doc_id, 'h' || CAST(doc_id % 7 AS VARCHAR) AS host,
                   row_number() OVER (
                       PARTITION BY 'h' || CAST(doc_id % 7 AS VARCHAR)
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
            FROM documents)
        WHERE rn <= 30
    """
    # split oracle: first hex digit of md5(id) below '2' → holdout
    o["hash_split"] = """
        SELECT lang,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2'
                    THEN 'holdout' ELSE 'train' END AS split,
               count(*) AS n
        FROM documents GROUP BY 1, 2
    """
    o["top_terms"] = """
        WITH tok AS (
            SELECT doc_id AS id,
                   unnest(regexp_extract_all(
                       translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                       'abcdefghijklmnopqrstuvwxyz'),
                       '[^\t\n\f\r ]+')) AS term
            FROM documents),
        tf AS (SELECT id, term, count(*) AS tf FROM tok GROUP BY id, term),
        dfreq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
        r AS (
            SELECT id, term, tf, doc_freq,
                   row_number() OVER (
                       PARTITION BY id
                       ORDER BY tf DESC, doc_freq ASC, term ASC) AS rank
            FROM tf JOIN dfreq USING (term))
        SELECT id, term, tf, doc_freq, CAST(rank AS INTEGER) AS rank
        FROM r WHERE rank <= 3
    """

    # winnowing oracle: recompute the WHOLE algorithm in SQL — codepoint
    # Horner hash per k-gram (k=8, base 257, mod 2^31-1), windows of 4
    # consecutive k-gram hashes, rightmost-minimum selection, distinct set.
    _horner = "CAST(0 AS BIGINT)"
    for _j in range(8):
        _horner = (f"(({_horner}) * 257 + "
                   f"unicode(substr(t, CAST(pos AS INTEGER) + {_j + 1}, 1)))"
                   " % 2147483647")
    def _winnow_fps_cte(src: str) -> str:
        """CTE chain recomputing the winnowing fingerprints of relation
        ``src`` (doc_id, text) from scratch — normalization, k=8 codepoint
        Horner hash, window-4 rightmost-minimum selection — ending in a
        ``fps(doc_id, pos, fp)`` relation. Shared by the winnow_fingerprint
        / dup_spans / dup_span_mass oracles."""
        return f"""
        norm AS (
            SELECT doc_id,
                   trim(regexp_replace(
                        translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                        'abcdefghijklmnopqrstuvwxyz'),
                        '[\\t\\n\\f\\r ]+', ' ', 'g'), ' ') AS t
            FROM {src}),
        grams0 AS (
            SELECT doc_id, t,
                   unnest(range(0, greatest(length(t) - 7, 0))) AS pos
            FROM norm),
        grams AS (
            SELECT doc_id, CAST(pos AS BIGINT) AS pos, {_horner} AS h
            FROM grams0),
        ng AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        wins AS (
            SELECT doc_id,
                   CAST(unnest(range(0, CASE WHEN n > 4 THEN n - 3 ELSE 1 END))
                        AS BIGINT) AS s
            FROM ng),
        sel AS (
            SELECT wins.doc_id, grams.pos, grams.h,
                   row_number() OVER (PARTITION BY wins.doc_id, wins.s
                                      ORDER BY grams.h ASC, grams.pos DESC) AS rk
            FROM wins JOIN grams ON grams.doc_id = wins.doc_id
                                AND grams.pos BETWEEN wins.s AND wins.s + 3),
        fps AS (SELECT DISTINCT doc_id, pos, h AS fp FROM sel WHERE rk = 1)
        """

    o["winnow_fingerprint"] = f"""
        WITH {_winnow_fps_cte('documents')}
        SELECT doc_id, pos, fp FROM fps
    """

    # planted-passage base for the span-dedup oracles — mirrors
    # _docs_with_planted_passages in queries() expression for expression
    _PLANTED_SRC = """
        src AS (
            SELECT doc_id,
                   text || ' ' || repeat(md5(CAST(doc_id AS VARCHAR)), 3) AS text
            FROM documents WHERE doc_id % 10 = 0
            UNION ALL
            SELECT doc_id, text FROM documents WHERE doc_id % 10 != 0
            UNION ALL
            SELECT doc_id + 100000,
                   repeat(md5(CAST(doc_id AS VARCHAR)), 3) || ' ' || reverse(text)
            FROM documents WHERE doc_id % 10 = 0)
    """

    o["dup_spans"] = f"""
        WITH {_PLANTED_SRC},
        {_winnow_fps_cte('src')},
        ok AS (SELECT fp FROM fps GROUP BY fp
               HAVING count(DISTINCT doc_id) <= 8),
        g AS (SELECT f.doc_id, f.pos, f.fp FROM fps f JOIN ok USING (fp))
        SELECT a.doc_id AS id_a, a.pos AS pos_a,
               b.doc_id AS id_b, b.pos AS pos_b, a.fp AS fp
        FROM g a JOIN g b ON a.fp = b.fp AND a.doc_id < b.doc_id
    """

    o["dup_span_removal"] = f"""
        WITH {_PLANTED_SRC},
        {_winnow_fps_cte('src')},
        ok AS (SELECT fp FROM fps GROUP BY fp
               HAVING count(DISTINCT doc_id) <= 8),
        g AS (SELECT f.doc_id, f.pos, f.fp FROM fps f JOIN ok USING (fp)),
        m AS (
            SELECT a.doc_id AS id_a, a.pos AS pos_a,
                   b.doc_id AS id_b, b.pos AS pos_b
            FROM g a JOIN g b ON a.fp = b.fp AND a.doc_id < b.doc_id),
        hits AS (
            SELECT DISTINCT id, pos FROM (
                SELECT id_a AS id, pos_a AS pos FROM m
                UNION ALL SELECT id_b, pos_b FROM m)),
        flagged AS (
            SELECT id, pos,
                   CASE WHEN max(pos + 8) OVER (
                            PARTITION BY id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                            IS NULL
                        OR pos > max(pos + 8) OVER (
                            PARTITION BY id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   THEN 1 ELSE 0 END AS f
            FROM hits),
        isl0 AS (
            SELECT id, pos,
                   sum(f) OVER (PARTITION BY id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS isl
            FROM flagged),
        islands AS (
            SELECT id, isl, min(pos) AS s, max(pos) + 8 AS e
            FROM isl0 GROUP BY id, isl),
        segs AS (
            SELECT id, s, e,
                   coalesce(lag(e) OVER (PARTITION BY id ORDER BY s), 0) AS p_e
            FROM islands),
        normdoc AS (SELECT doc_id AS id, t FROM norm),
        pieces AS (
            SELECT segs.id,
                   string_agg(substr(t, CAST(p_e + 1 AS INTEGER),
                                     CAST(s - p_e AS INTEGER)),
                              '' ORDER BY s) AS head,
                   max(e) AS last_e
            FROM segs JOIN normdoc USING (id)
            GROUP BY segs.id),
        cleaned AS (
            SELECT n.id,
                   CASE WHEN p.id IS NULL THEN n.t
                        ELSE p.head || substr(n.t, CAST(p.last_e + 1 AS INTEGER))
                   END AS clean_text,
                   n.t
            FROM normdoc n LEFT JOIN pieces p ON n.id = p.id)
        SELECT id,
               trim(regexp_replace(clean_text, ' +', ' ', 'g')) AS clean_text,
               CAST(length(t)
                    - length(trim(regexp_replace(clean_text, ' +', ' ', 'g')))
                    AS BIGINT) AS n_removed
        FROM cleaned
    """

    o["dup_span_mass"] = f"""
        WITH {_PLANTED_SRC},
        {_winnow_fps_cte('src')},
        dfp AS (SELECT DISTINCT doc_id, fp FROM fps),
        cnt AS (SELECT fp, count(*) AS n_docs FROM dfp GROUP BY fp)
        SELECT doc_id AS id, count(*) AS n_fps,
               CAST(sum(CASE WHEN n_docs BETWEEN 2 AND 8 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_fps
        FROM dfp JOIN cnt USING (fp)
        GROUP BY doc_id
    """
    o["multimodal_meta"] = """
        SELECT doc_id AS id,
               CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
                               ELSE 'video/mp4' END AS media_type,
               CAST(strlen(text) AS BIGINT) AS n_bytes
        FROM documents
    """
    o["frame_sample"] = """
        SELECT doc_id AS id, CAST(f AS INTEGER) AS frame_idx,
               CAST(least(greatest(strlen(text) - f * greatest(strlen(text) // 4, 1), 0),
                          greatest(strlen(text) // 4, 1)) AS BIGINT) AS n_frame_bytes
        FROM documents, range(4) r(f)
    """

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

    o["dynamic_fields"] = """
        SELECT doc_id,
               CAST(doc_id*37 % 90000 + 10000 AS VARCHAR) AS permit,
               CAST(doc_id % 9 + 1 AS VARCHAR) AS zone,
               '' AS nothing
        FROM documents
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

    o["media_resize"] = """
        SELECT doc_id AS id,
               CAST(strlen(text) AS BIGINT) AS orig_bytes,
               CAST(CASE WHEN strlen(text) <= 100 THEN strlen(text)
                    ELSE CAST(ceil(strlen(text) * 1.0 /
                         CAST(ceil(strlen(text) / 100.0) AS BIGINT)) AS BIGINT)
                    END AS BIGINT) AS resized_bytes
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

    o["model_extract"] = """
        SELECT doc_id,
               'LIC-' || CAST(doc_id*37 % 90000 + 10000 AS VARCHAR) AS license_id,
               lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || '/05/2024' AS date,
               'REF-AB' || CAST(doc_id*13 % 9000 + 1000 AS VARCHAR) AS reference_id
        FROM documents
    """

    o["repetition_stats"] = r"""
        SELECT doc_id,
               CAST(greatest(len(w) - 1, 0) AS BIGINT) AS total_bigrams,
               CAST(CASE WHEN len(w) < 2 THEN 0
                    ELSE len(list_distinct(list_transform(
                         range(1, len(w)), i -> w[i] || ' ' || w[i+1])))
                    END AS BIGINT) AS distinct_bigrams
        FROM (SELECT doc_id, regexp_extract_all(text, '[^\t\n\f\r ]+') AS w
              FROM documents)
    """

    _stops = ", ".join(f"'{s}'" for s in
                       ("the", "be", "to", "of", "and", "that", "have", "with"))
    o["gopher_quality"] = rf"""
        SELECT doc_id, n_words, n_word_chars, n_stop_hits,
               (n_words >= 30 AND n_words <= 100000
                AND n_word_chars >= 3 * n_words
                AND n_word_chars <= 10 * n_words
                AND n_stop_hits >= 2) AS gopher_pass
        FROM (
            SELECT doc_id,
                   CAST(len(w) AS BIGINT) AS n_words,
                   CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0)
                        AS BIGINT) AS n_word_chars,
                   CAST(len(list_filter(w, x -> list_contains([{_stops}],
                        lower(x)))) AS BIGINT) AS n_stop_hits
            FROM (SELECT doc_id,
                         regexp_extract_all(text, '[^\t\n\f\r ]+') AS w
                  FROM documents))
    """

    # connected components: min reachable id via a recursive CTE over the
    # same Jaccard pair graph the Spark query builds (near-dup components
    # are tiny, so the transitive walk cannot explode at oracle scale)
    o["dedup_components"] = f"""
        WITH RECURSIVE {_SHINGLE_BASE},
        pairs AS (
            SELECT id_a, id_b FROM (
                SELECT a.id AS id_a, b.id AS id_b,
                       len(list_intersect(a.s, b.s)) AS inter,
                       len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni
                FROM sh a JOIN sh b ON a.lang = b.lang AND a.id < b.id)
            WHERE inter >= 1 AND 100 * inter >= 50 * uni),
        sym AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
        nodes AS (SELECT DISTINCT id FROM base),
        walk(id, reach) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT w.id, s.v FROM walk w JOIN sym s ON s.u = w.reach)
        SELECT id, min(reach) AS comp FROM walk GROUP BY id
    """

    o["curation_pipeline"] = f"""
        WITH RECURSIVE {_SHINGLE_BASE},
        pairs AS (
            SELECT id_a, id_b FROM (
                SELECT a.id AS id_a, b.id AS id_b,
                       len(list_intersect(a.s, b.s)) AS inter,
                       len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni
                FROM sh a JOIN sh b ON a.lang = b.lang AND a.id < b.id)
            WHERE inter >= 1 AND 100 * inter >= 50 * uni),
        sym AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
        nodes AS (SELECT DISTINCT id FROM base),
        walk(id, reach) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT w.id, s.v FROM walk w JOIN sym s ON s.u = w.reach),
        comp AS (SELECT id, min(reach) AS comp FROM walk GROUP BY id),
        g AS (
            SELECT id AS doc_id, n_words, n_word_chars, n_stop_hits,
                   (n_words >= 30 AND n_words <= 100000
                    AND n_word_chars >= 3 * n_words
                    AND n_word_chars <= 10 * n_words
                    AND n_stop_hits >= 2) AS gopher_pass
            FROM (
                SELECT id,
                       CAST(len(w) AS BIGINT) AS n_words,
                       CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0)
                            AS BIGINT) AS n_word_chars,
                       CAST(len(list_filter(w, x -> list_contains([{_stops}],
                            lower(x)))) AS BIGINT) AS n_stop_hits
                FROM (SELECT id,
                             regexp_extract_all(t, '[^\t\n\f\r ]+') AS w
                      FROM base)))
        SELECT g.doc_id, g.n_words, g.n_stop_hits
        FROM g JOIN comp ON g.doc_id = comp.id
        WHERE g.gopher_pass AND g.doc_id = comp.comp
    """

    # keep-best oracle: same recursive-CTE component walk as
    # dedup_components, over the APPEND-two-words copy construction, then
    # one window keeping the highest-token member (ties → min id). The
    # copies outscore their sources, so min-id keep-one would fail this
    # hash — the policy is what is being checked.
    o["dedup_keep_best"] = r"""
        WITH RECURSIVE base AS (
            SELECT doc_id AS id, lang, trim(text) AS t FROM documents
            UNION ALL
            SELECT doc_id + 100000, lang, trim(text) || ' zzqx zzqy'
            FROM documents),
        sh AS (
            SELECT id, lang,
                   list_distinct(list_transform(range(1, len(w) - 1),
                                                i -> array_to_string(w[i:i+2], ' '))) AS s
            FROM (SELECT id, lang, regexp_split_to_array(t, '\s+') AS w FROM base)
            WHERE len(w) >= 3),
        pairs AS (
            SELECT id_a, id_b FROM (
                SELECT a.id AS id_a, b.id AS id_b,
                       len(list_intersect(a.s, b.s)) AS inter,
                       len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni
                FROM sh a JOIN sh b ON a.lang = b.lang AND a.id < b.id)
            WHERE inter >= 1 AND 100 * inter >= 50 * uni),
        sym AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
        nodes AS (SELECT DISTINCT id FROM base),
        walk(id, reach) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT w.id, s.v FROM walk w JOIN sym s ON s.u = w.reach),
        comp AS (SELECT id, min(reach) AS comp FROM walk GROUP BY id),
        score AS (
            SELECT id, CAST(len(regexp_extract_all(t, '\S+')) AS BIGINT)
                       AS ws_tokens
            FROM base),
        ranked AS (
            SELECT c.id, c.comp, s.ws_tokens,
                   row_number() OVER (PARTITION BY c.comp
                                      ORDER BY s.ws_tokens DESC, c.id) AS rn
            FROM comp c JOIN score s USING (id))
        SELECT id AS doc_id, comp, ws_tokens FROM ranked WHERE rn = 1
    """

    # decontamination oracle: string shingle sets (the hash-free ground
    # truth), benchmark = words 3..12 of every 10th doc, n=5 — count of a
    # doc's DISTINCT 5-grams present in the benchmark's 5-gram set.
    # decontaminate_bloom: the exact set-intersection definition — the
    # Bloom gate + verify must reproduce it bit-for-bit (no fpp leakage).
    o["decontaminate_bloom"] = r"""
        WITH corp AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
            FROM documents),
        csh AS (
            SELECT doc_id AS id,
                   list_distinct(list_transform(range(1, len(w) - 3),
                                                i -> array_to_string(w[i:i+4], ' '))) AS s
            FROM corp WHERE len(w) >= 5),
        bw AS (SELECT w[3:12] AS v FROM corp WHERE doc_id % 10 = 0),
        bsh AS (
            SELECT DISTINCT array_to_string(v[i:i+4], ' ') AS s
            FROM (SELECT v, unnest(range(1, len(v) - 3)) AS i
                  FROM bw WHERE len(v) >= 5)),
        dirty AS (
            SELECT DISTINCT id
            FROM (SELECT id, unnest(s) AS s FROM csh) JOIN bsh USING (s))
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT id FROM dirty)
    """
    o["decontaminate"] = r"""
        WITH corp AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
            FROM documents),
        csh AS (
            SELECT doc_id AS id,
                   list_distinct(list_transform(range(1, len(w) - 3),
                                                i -> array_to_string(w[i:i+4], ' '))) AS s
            FROM corp WHERE len(w) >= 5),
        bw AS (SELECT w[3:12] AS v FROM corp WHERE doc_id % 10 = 0),
        bsh AS (
            SELECT DISTINCT array_to_string(v[i:i+4], ' ') AS s
            FROM (SELECT v, unnest(range(1, len(v) - 3)) AS i
                  FROM bw WHERE len(v) >= 5)),
        hits AS (
            SELECT id, unnest(s) AS s FROM csh)
        SELECT id, count(*) AS n_hits
        FROM hits JOIN bsh USING (s)
        GROUP BY id
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

    from ocr_system_spark.operators.scrub import PII_PATTERNS
    _pii_enrich = """
        SELECT doc_id,
               text
               || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example' || CAST(doc_id % 7 AS VARCHAR) || '.com'
               || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
               || '.' || CAST(doc_id * 3 % 256 AS VARCHAR)
               || '.' || CAST(doc_id % 200 + 1 AS VARCHAR)
               || ' call +1 (' || CAST(doc_id % 900 + 100 AS VARCHAR)
               || ') ' || CAST(doc_id % 900 + 100 AS VARCHAR)
               || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
               AS text
        FROM documents
    """
    # DuckDB single-quoted literals keep backslashes verbatim — embed the
    # patterns unescaped so RE2 sees exactly what Java's engine sees
    _scrub_sql = "text"
    for _n, _pat, _repl in PII_PATTERNS:
        _scrub_sql = (f"regexp_replace({_scrub_sql}, '{_pat}', "
                      f"'{_repl}', 'g')")
    _count_cols = ", ".join(
        f"len(regexp_extract_all(text, '{_pat}')) AS n_{_n}"
        for _n, _pat, _r in PII_PATTERNS)
    o["pii_scrub"] = f"""
        SELECT doc_id, {_scrub_sql} AS scrubbed, {_count_cols}
        FROM ({_pii_enrich})
    """

    o["timestamp_window"] = """
        SELECT event_type, count(*) AS n, avg(value) AS avg_value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          AND ts <  TIMESTAMP '2024-01-20 00:00:00'
        GROUP BY event_type
    """

    # ---- line-level curation oracles: replay the lined construction,
    # then the line frequency / removal / template / C4 semantics --------

    # shared CTE chain: lined documents (6-token content lines + corpus
    # boilerplate pool after every 2nd content line), one row per line
    # with its document order key (line_i, sub)
    _lined_cte = """
        w0 AS (SELECT doc_id AS id,
                      regexp_extract_all(text, '[^\t\n\f\r ]+') AS w
               FROM documents),
        b AS (SELECT id, w, len(w) AS n FROM w0 WHERE len(w) > 0),
        c AS (SELECT id, w, n,
                     unnest(range(0, (n - 1) // 6 + 1)) AS i
              FROM b),
        l AS (SELECT id, i,
                     array_to_string(
                         w[CAST(i*6+1 AS INTEGER):CAST(i*6+6 AS INTEGER)],
                         ' ') AS content
              FROM c),
        lines AS (
            SELECT id, i AS line_i, 0 AS sub, content AS line FROM l
            UNION ALL
            SELECT id, i, 1,
                   'shared boilerplate banner line ' || CAST(i % 3 AS VARCHAR)
            FROM l WHERE i % 2 = 0)
    """

    o["line_hot"] = f"""
        WITH {_lined_cte}
        SELECT line, CAST(count(DISTINCT id) AS BIGINT) AS n_docs
        FROM lines WHERE trim(line) <> ''
        GROUP BY line
        HAVING count(DISTINCT id) >= 10
    """

    o["line_dedup"] = f"""
        WITH {_lined_cte},
        hot AS (
            SELECT line FROM lines WHERE trim(line) <> ''
            GROUP BY line HAVING count(DISTINCT id) >= 10),
        marked AS (
            SELECT id, line_i, sub, line,
                   line IN (SELECT line FROM hot) AS is_hot
            FROM lines)
        SELECT id,
               coalesce(string_agg(line, chr(10) ORDER BY line_i, sub)
                        FILTER (WHERE NOT is_hot), '') AS clean_text,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(count(*) FILTER (WHERE is_hot) AS BIGINT) AS n_removed
        FROM marked GROUP BY id
    """

    # paragraph_dedup: replay construction (composed/decomposed promo),
    # the normalize chain (CRLF/zero-width are no-ops here; NFC via
    # DuckDB's own nfc_normalize), then the paragraph-granularity dedup —
    # split on a double newline, hot = >=10 distinct docs, ordered rebuild
    o["paragraph_dedup"] = """
        WITH built AS (
            SELECT doc_id AS id,
                   CASE WHEN doc_id % 2 = 0
                        THEN 'join our caf' || chr(233) || ' club'
                             || chr(10) || 'subscribe today'
                        ELSE 'join our cafe' || chr(769) || ' club'
                             || chr(10) || 'subscribe today' END
                   || chr(10) || chr(10) || text
                   || CASE WHEN doc_id % 7 = 0
                           THEN chr(10) || chr(10) || 'call to action'
                                || chr(10) || 'limited offer'
                           ELSE '' END AS text
            FROM documents),
        norm AS (
            SELECT id,
                   nfc_normalize(
                       regexp_replace(
                           regexp_replace(text, chr(13) || chr(10),
                                          chr(10), 'g'),
                           '[' || chr(8203) || chr(8204) || chr(8205)
                               || chr(65279) || ']', '', 'g')) AS t
            FROM built),
        paras AS (
            SELECT id, i, ps[CAST(i AS INTEGER)] AS p FROM (
                SELECT id, ps, unnest(range(1, len(ps) + 1)) AS i
                FROM (SELECT id,
                             string_split(t, chr(10) || chr(10)) AS ps
                      FROM norm))),
        hot AS (
            SELECT p FROM paras WHERE trim(p) <> ''
            GROUP BY p HAVING count(DISTINCT id) >= 10),
        marked AS (
            SELECT id, i, p, p IN (SELECT p FROM hot) AS is_hot
            FROM paras)
        SELECT id,
               coalesce(string_agg(p, chr(10) || chr(10) ORDER BY i)
                        FILTER (WHERE NOT is_hot), '') AS clean_text,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(count(*) FILTER (WHERE is_hot) AS BIGINT) AS n_removed
        FROM marked GROUP BY id
    """

    # per-host variant: host = 'h' || id%17, host template line after
    # every 3rd content line; strip lines in >= 1/2 of a host's docs
    # (hosts with >= 5 docs), integer-exact threshold
    _hosted_cte = """
        w0 AS (SELECT doc_id AS id,
                      'h' || CAST(doc_id % 17 AS VARCHAR) AS host,
                      regexp_extract_all(text, '[^\t\n\f\r ]+') AS w
               FROM documents),
        b AS (SELECT id, host, w, len(w) AS n FROM w0 WHERE len(w) > 0),
        c AS (SELECT id, host, w, n,
                     unnest(range(0, (n - 1) // 6 + 1)) AS i
              FROM b),
        l AS (SELECT id, host, i,
                     array_to_string(
                         w[CAST(i*6+1 AS INTEGER):CAST(i*6+6 AS INTEGER)],
                         ' ') AS content
              FROM c),
        lines AS (
            SELECT id, host, i AS line_i, 0 AS sub, content AS line FROM l
            UNION ALL
            SELECT id, host, i, 1, 'host template ' || host || ' footer'
            FROM l WHERE i % 3 = 0)
    """

    o["template_strip"] = f"""
        WITH {_hosted_cte},
        host_docs AS (
            SELECT host, count(DISTINCT id) AS host_docs
            FROM lines GROUP BY host),
        freq AS (
            SELECT host, line, count(DISTINCT id) AS n_docs
            FROM lines WHERE trim(line) <> ''
            GROUP BY host, line),
        hot AS (
            SELECT f.host, f.line
            FROM freq f JOIN host_docs h USING (host)
            WHERE h.host_docs >= 5 AND f.n_docs * 2 >= h.host_docs * 1),
        marked AS (
            SELECT ln.id, ln.host, ln.line_i, ln.sub, ln.line,
                   EXISTS (SELECT 1 FROM hot
                           WHERE hot.host = ln.host
                             AND hot.line = ln.line) AS is_hot
            FROM lines ln)
        SELECT id, host,
               coalesce(string_agg(line, chr(10) ORDER BY line_i, sub)
                        FILTER (WHERE NOT is_hot), '') AS clean_text,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(count(*) FILTER (WHERE is_hot) AS BIGINT) AS n_removed
        FROM marked GROUP BY id, host
    """

    # C4 oracle: replay the punctuated-line construction (terminal '.'
    # except (id+i)%4==3; javascript interstitial after i%5==2; doc-level
    # lorem/brace suffix lines), then the C4 keep rule + document gates
    o["c4_filters"] = """
        WITH w0 AS (SELECT doc_id AS id,
                           regexp_extract_all(text, '[^\t\n\f\r ]+') AS w
                    FROM documents),
        b AS (SELECT id, w, len(w) AS n FROM w0 WHERE len(w) > 0),
        c AS (SELECT id, w, n,
                     unnest(range(0, (n - 1) // 6 + 1)) AS i
              FROM b),
        l AS (SELECT id, i,
                     array_to_string(
                         w[CAST(i*6+1 AS INTEGER):CAST(i*6+6 AS INTEGER)],
                         ' ')
                     || CASE WHEN (id + i) % 4 = 3 THEN '' ELSE '.' END
                     AS line
              FROM c),
        lines0 AS (
            SELECT id, i AS line_i, 0 AS sub, line FROM l
            UNION ALL
            SELECT id, i, 1, 'please enable javascript to view this content.'
            FROM l WHERE i % 5 = 2),
        maxi AS (SELECT id, max(line_i) AS mi FROM lines0 GROUP BY id),
        lines AS (
            SELECT id, line_i, sub, line FROM lines0
            UNION ALL
            SELECT m.id, m.mi + 1, 0, 'lorem ipsum dolor sit amet.'
            FROM maxi m WHERE m.id % 31 = 0
            UNION ALL
            SELECT m.id, m.mi + 2, 0, 'config { display } block.'
            FROM maxi m WHERE m.id % 29 = 0),
        judged AS (
            SELECT id, line_i, sub, line,
                   (right(trim(line), 1) IN ('.', '!', '?', '"', chr(39)))
                   AND len(regexp_extract_all(trim(line),
                                              '[^\t\n\f\r ]+')) >= 5
                   AND NOT contains(
                       translate(trim(line),
                                 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                 'abcdefghijklmnopqrstuvwxyz'),
                       'javascript') AS keep
            FROM lines),
        docs AS (
            SELECT id,
                   coalesce(string_agg(line, chr(10) ORDER BY line_i, sub)
                            FILTER (WHERE keep), '') AS clean_text,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
                   bool_or(contains(line, '{')) AS has_brace,
                   bool_or(contains(
                       translate(line, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                 'abcdefghijklmnopqrstuvwxyz'),
                       'lorem ipsum')) AS has_lorem
            FROM judged GROUP BY id)
        SELECT id, clean_text, n_lines, n_kept, has_brace, has_lorem,
               (NOT has_brace AND NOT has_lorem AND n_kept >= 3) AS c4_pass
        FROM docs
    """

    o["intra_doc_dup"] = f"""
        WITH {_lined_cte},
        nb AS (SELECT id, line FROM lines WHERE trim(line) <> ''),
        a AS (SELECT id, CAST(count(*) AS BIGINT) AS n_lines,
                     CAST(sum(length(line)) AS BIGINT) AS line_chars
              FROM nb GROUP BY id),
        d AS (SELECT id,
                     CAST(count(*) AS BIGINT) AS n_distinct_lines,
                     CAST(sum(length(line)) AS BIGINT) AS distinct_line_chars
              FROM (SELECT DISTINCT id, line FROM nb) GROUP BY id)
        SELECT id, a.n_lines, d.n_distinct_lines,
               a.line_chars, d.distinct_line_chars
        FROM a JOIN d USING (id)
    """

    # ---- BPE oracles: replay ALL training iterations (pair counts →
    # deterministic argmax → literal separator-guarded replace) in SQL ---

    def _bpe_cte(n: int) -> str:
        parts = ["""
        w AS (SELECT unnest(regexp_extract_all(
                  translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                  'abcdefghijklmnopqrstuvwxyz'),
                  '[^\t\n\f\r ]+')) AS term
              FROM documents),
        v AS (SELECT term, count(*) AS cnt FROM w
              WHERE NOT contains(term, chr(31))
                AND NOT contains(term, chr(30)) GROUP BY term),
        it0 AS MATERIALIZED (SELECT chr(31) || array_to_string(
                    list_transform(range(1, length(term)+1),
                                   i -> substr(term, CAST(i AS INTEGER), 1)),
                    chr(31) || chr(31)) || chr(31) || chr(31)
                    || chr(30) || chr(31) AS seq, cnt
                FROM v)"""]
        for k in range(n):
            parts.append(f"""
        p{k} AS MATERIALIZED (
            SELECT syms[CAST(i AS INTEGER)] AS lhs,
                   syms[CAST(i+1 AS INTEGER)] AS rhs,
                   sum(cnt) AS pair_count
            FROM (SELECT s0[2:len(s0)-1] AS syms, cnt,
                         unnest(range(1, len(s0)-2)) AS i
                  FROM (SELECT string_split_regex(seq, chr(31) || '+')
                               AS s0, cnt
                        FROM it{k}))
            GROUP BY 1, 2),
        b{k} AS MATERIALIZED (SELECT lhs, rhs, pair_count FROM p{k}
                 ORDER BY pair_count DESC, lhs ASC, rhs ASC LIMIT 1),
        it{k + 1} AS MATERIALIZED (
            SELECT replace(seq,
                       chr(31) || coalesce((SELECT lhs FROM b{k}), chr(31))
                               || chr(31) || chr(31)
                               || coalesce((SELECT rhs FROM b{k}), chr(31))
                               || chr(31),
                       chr(31) || coalesce((SELECT lhs FROM b{k}), '')
                               || coalesce((SELECT rhs FROM b{k}), '')
                               || chr(31)) AS seq,
                   cnt
            FROM it{k})""")
        return "WITH " + ",".join(parts)

    _BPE_N = 8
    _merge_rows = "\n            UNION ALL ".join(
        f"SELECT CAST({k + 1} AS BIGINT) AS merge_id, lhs, rhs, "
        f"CAST(pair_count AS BIGINT) AS pair_count FROM b{k}"
        for k in range(_BPE_N))
    o["bpe_train"] = f"""
        {_bpe_cte(_BPE_N)}
        SELECT * FROM (
            {_merge_rows}
        )
    """

    # one trainer serves all three trainer names (see queries())
    o["bpe_train_batched"] = o["bpe_train"]
    o["bpe_train_local"] = o["bpe_train"]

    _enc = ("chr(31) || array_to_string("
            "list_transform(range(1, length(term)+1), "
            "i -> substr(term, CAST(i AS INTEGER), 1)), "
            "chr(31) || chr(31)) "
            "|| chr(31) || chr(31) || chr(30) || chr(31)")
    for _k in range(_BPE_N):
        _enc = (f"replace({_enc}, "
                f"chr(31) || coalesce((SELECT lhs FROM b{_k}), chr(31)) "
                f"|| chr(31) || chr(31) "
                f"|| coalesce((SELECT rhs FROM b{_k}), chr(31)) "
                f"|| chr(31), "
                f"chr(31) || coalesce((SELECT lhs FROM b{_k}), '') "
                f"|| coalesce((SELECT rhs FROM b{_k}), '') || chr(31))")
    o["bpe_encode"] = f"""
        {_bpe_cte(_BPE_N)},
        tokd AS (SELECT doc_id AS id,
                        unnest(regexp_extract_all(
                            translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                            'abcdefghijklmnopqrstuvwxyz'),
                            '[^\t\n\f\r ]+')) AS term
                 FROM documents),
        tokf AS (SELECT id, term FROM tokd
                 WHERE NOT contains(term, chr(31))
                   AND NOT contains(term, chr(30))),
        enc AS (SELECT id, {_enc} AS seq FROM tokf)
        SELECT id, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(len(string_split_regex(seq, chr(31) || '+')) - 2)
                    AS BIGINT) AS n_subwords
        FROM enc GROUP BY id
    """
    o["bpe_encode_ranked"] = o["bpe_encode"]

    # hashed linear quality score: md5-hex stub weight replayed digit by
    # digit (strpos over the hex alphabet — no numeric hex parsing)
    _wdig = lambda i: (f"(strpos('0123456789abcdef', "  # noqa: E731
                       f"substr(md5(term), {i}, 1)) - 1)")
    _wexpr = (f"(({_wdig(1)} * 4096 + {_wdig(2)} * 256 + "
              f"{_wdig(3)} * 16 + {_wdig(4)}) % 2001 - 1000)")
    o["quality_model_score"] = f"""
        WITH tok AS (
            SELECT doc_id AS id,
                   unnest(regexp_extract_all(
                       translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                       'abcdefghijklmnopqrstuvwxyz'),
                       '[^\t\n\f\r ]+')) AS term
            FROM documents),
        wt AS (SELECT id, CAST({_wexpr} AS BIGINT) AS w FROM tok)
        SELECT id, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(w) AS BIGINT) AS score,
               sum(w) >= 0 AS keep
        FROM wt GROUP BY id
    """

    o["quality_model_table_score"] = """
        WITH tok AS (
            SELECT doc_id AS id,
                   unnest(regexp_extract_all(
                       translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                       'abcdefghijklmnopqrstuvwxyz'),
                       '[^\t\n\f\r ]+')) AS term
            FROM documents),
        wt AS (SELECT DISTINCT term, CAST(length(term) - 4 AS BIGINT)
                      AS weight
               FROM tok WHERE length(term) % 3 <> 0),
        tf AS (SELECT id, term, count(*) AS tf FROM tok GROUP BY id, term)
        SELECT id, CAST(sum(tf) AS BIGINT) AS n_tokens,
               CAST(sum(tf * coalesce(weight, 0)) AS BIGINT) AS score,
               sum(tf * coalesce(weight, 0)) >= 0 AS keep
        FROM tf LEFT JOIN wt USING (term)
        GROUP BY id
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

    o["quality_tiers"] = f"""
        WITH tok AS (
            SELECT doc_id AS id,
                   unnest(regexp_extract_all(
                       translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                       'abcdefghijklmnopqrstuvwxyz'),
                       '[^\t\n\f\r ]+')) AS term
            FROM documents),
        wt AS (SELECT id, CAST({_wexpr} AS BIGINT) AS w FROM tok),
        scored AS (SELECT id, CAST(sum(w) AS BIGINT) AS score
                   FROM wt GROUP BY id)
        SELECT id, score,
               CAST(ntile(4) OVER (ORDER BY score ASC, id ASC) AS INTEGER)
               AS tier
        FROM scored
    """

    # Same SQL on purpose: the bucketed operator claims exact ntile parity,
    # so the independent equal-count semantics ARE its oracle.
    o["quality_tiers_bucketed"] = o["quality_tiers"]

    o["tier_mixture"] = f"""
        WITH tok AS (
            SELECT doc_id AS id,
                   unnest(regexp_extract_all(
                       translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                       'abcdefghijklmnopqrstuvwxyz'),
                       '[^\t\n\f\r ]+')) AS term
            FROM documents),
        wt AS (SELECT id, CAST({_wexpr} AS BIGINT) AS w FROM tok),
        scored AS (SELECT id, CAST(sum(w) AS BIGINT) AS score
                   FROM wt GROUP BY id),
        tiers AS (
            SELECT id,
                   CAST(ntile(4) OVER (ORDER BY score ASC, id ASC)
                        AS INTEGER) AS tier
            FROM scored),
        kept AS (
            SELECT * FROM tiers
            WHERE substr(md5(CAST(id AS VARCHAR)), 1, 1) <
                  CASE tier WHEN 1 THEN '2' WHEN 2 THEN '8'
                            ELSE 'g' END)
        SELECT tier, CAST(count(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY tier
    """

    o["normalize_text"] = """
        WITH built AS (
            SELECT doc_id,
                   text || CASE doc_id % 4
                       WHEN 0 THEN ' e' || chr(769)
                       WHEN 1 THEN ' A' || chr(778)
                       WHEN 2 THEN ' zw' || chr(8203) || 'sp'
                       ELSE ' x' || chr(13) || chr(10) || 'y' END AS text
            FROM documents)
        SELECT doc_id AS id,
               nfc_normalize(
                   regexp_replace(
                       regexp_replace(text, chr(13) || chr(10), chr(10),
                                      'g'),
                       '[' || chr(8203) || chr(8204) || chr(8205)
                           || chr(65279) || ']', '', 'g')
               ) AS norm_text
        FROM built
    """

    o["normalize_dedup"] = """
        WITH tenth AS (SELECT doc_id, text FROM documents
                       WHERE doc_id % 10 = 0),
        corpus AS (
            SELECT doc_id, text || ' caf' || chr(233) AS text FROM tenth
            UNION ALL
            SELECT doc_id + 100000, text || ' cafe' || chr(769) FROM tenth
            UNION ALL
            SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
        norm AS (SELECT doc_id AS id, nfc_normalize(text) AS norm_text
                 FROM corpus)
        SELECT min(id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
        FROM norm GROUP BY norm_text
        HAVING count(*) > 1
    """

    o["host_split"] = """
        WITH h AS (SELECT doc_id,
                          'h' || CAST(doc_id % 17 AS VARCHAR) AS host
                   FROM documents),
        s AS (SELECT doc_id, host,
                     CASE WHEN substr(md5(host), 1, 1) < '2'
                          THEN 'holdout' ELSE 'train' END AS split
              FROM h)
        SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
        FROM s GROUP BY split
    """

    o["unigram_freq"] = """
        WITH tok AS (
            SELECT doc_id AS id,
                   unnest(regexp_extract_all(
                       translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                       'abcdefghijklmnopqrstuvwxyz'),
                       '[^\t\n\f\r ]+')) AS term
            FROM documents),
        tf AS (SELECT id, term, count(*) AS tf FROM tok GROUP BY id, term),
        vocab AS (SELECT term, sum(tf) AS corpus_tf FROM tf GROUP BY term)
        SELECT id,
               CAST(sum(tf) AS BIGINT) AS n_tokens,
               CAST(sum(tf * corpus_tf) AS BIGINT) AS freq_sum
        FROM tf JOIN vocab USING (term)
        GROUP BY id
    """
    o["lm_perplexity"] = """
        WITH base AS (
            SELECT doc_id AS id,
                   regexp_extract_all(
                       translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                       'abcdefghijklmnopqrstuvwxyz'),
                       '[^\t\n\f\r ]+') AS toks,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2'
                        THEN 'holdout' ELSE 'train' END AS split
            FROM documents),
        trbg AS (
            SELECT toks[i] AS w1, toks[i + 1] AS w2, count(*) AS c2
            FROM (SELECT toks, unnest(range(1, len(toks))) AS i
                  FROM base WHERE split = 'train')
            GROUP BY 1, 2),
        ctx AS (SELECT w1, sum(c2) AS c1 FROM trbg GROUP BY 1),
        voc AS (SELECT count(DISTINCT t) AS v
                FROM (SELECT unnest(toks) AS t FROM base
                      WHERE split = 'train')),
        hobg AS (
            SELECT id, toks[i] AS w1, toks[i + 1] AS w2, count(*) AS tf
            FROM (SELECT id, toks, unnest(range(1, len(toks))) AS i
                  FROM base WHERE split = 'holdout')
            GROUP BY 1, 2, 3),
        j AS (
            SELECT id, tf, coalesce(c2, 0) AS c2, coalesce(c1, 0) AS c1,
                   (SELECT v FROM voc) AS v
            FROM hobg LEFT JOIN trbg USING (w1, w2)
                      LEFT JOIN ctx USING (w1))
        SELECT id,
               CAST(sum(tf) AS BIGINT) AS n_bigrams,
               CAST(sum(CASE WHEN c2 > 0 THEN tf ELSE 0 END) AS BIGINT)
                   AS known_bigrams,
               CAST(sum(tf * CAST(round((ln(c2 + 1) - ln(c1 + v)) * 1000000)
                                  AS BIGINT)) AS BIGINT) AS logprob_micro
        FROM j GROUP BY id
    """
    o["dsir_weights"] = """
        WITH base AS (
            SELECT doc_id AS id,
                   regexp_extract_all(
                       translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                       'abcdefghijklmnopqrstuvwxyz'),
                       '[^\t\n\f\r ]+') AS toks,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2'
                        THEN 'holdout' ELSE 'train' END AS split
            FROM documents),
        feat AS (
            SELECT id, split, unnest(toks) AS feat FROM base
            UNION ALL
            SELECT id, split, toks[i] || ' ' || toks[i + 1] AS feat
            FROM (SELECT id, split, toks, unnest(range(1, len(toks))) AS i
                  FROM base)),
        fb AS (
            SELECT id, split,
                   ((instr('0123456789abcdef', substr(md5(feat), 1, 1)) - 1)
                      * 4096
                  + (instr('0123456789abcdef', substr(md5(feat), 2, 1)) - 1)
                      * 256
                  + (instr('0123456789abcdef', substr(md5(feat), 3, 1)) - 1)
                      * 16
                  + (instr('0123456789abcdef', substr(md5(feat), 4, 1)) - 1))
                   % 1024 AS bucket
            FROM feat),
        tgt AS (SELECT bucket, count(*) AS cp FROM fb
                WHERE split = 'train' GROUP BY 1),
        raw AS (SELECT bucket, count(*) AS cq FROM fb
                WHERE split = 'holdout' GROUP BY 1),
        doc AS (SELECT id, bucket, count(*) AS tf FROM fb
                WHERE split = 'holdout' GROUP BY 1, 2),
        j AS (
            SELECT id, tf, coalesce(cp, 0) AS cp, coalesce(cq, 0) AS cq,
                   (SELECT sum(cp) FROM tgt) AS np,
                   (SELECT sum(cq) FROM raw) AS nq
            FROM doc LEFT JOIN tgt USING (bucket)
                     LEFT JOIN raw USING (bucket))
        SELECT id,
               CAST(sum(tf) AS BIGINT) AS n_feats,
               CAST(sum(tf * CAST(round(
                       ((ln(cp + 1) - ln(np + 1024))
                        - (ln(cq + 1) - ln(nq + 1024))) * 1000000)
                     AS BIGINT)) AS BIGINT) AS logweight_micro
        FROM j GROUP BY id
    """
    _dsir_weights_ctes = o["dsir_weights"].rsplit("SELECT id,", 1)[0]
    o["dsir_resample"] = _dsir_weights_ctes + """
        , weights AS (
            SELECT id,
                   CAST(sum(tf) AS BIGINT) AS n_feats,
                   CAST(sum(tf * CAST(round(
                           ((ln(cp + 1) - ln(np + 1024))
                            - (ln(cq + 1) - ln(nq + 1024))) * 1000000)
                         AS BIGINT)) AS BIGINT) AS logweight_micro
            FROM j GROUP BY id),
        gum AS (
            SELECT *,
                   CAST(round(-ln(-ln(
                       (((instr('0123456789abcdef',
                                substr(md5('gumbel:' ||
                                           CAST(id AS VARCHAR)), 1, 1)) - 1)
                            * 4096
                         + (instr('0123456789abcdef',
                                  substr(md5('gumbel:' ||
                                             CAST(id AS VARCHAR)), 2, 1)) - 1)
                            * 256
                         + (instr('0123456789abcdef',
                                  substr(md5('gumbel:' ||
                                             CAST(id AS VARCHAR)), 3, 1)) - 1)
                            * 16
                         + (instr('0123456789abcdef',
                                  substr(md5('gumbel:' ||
                                             CAST(id AS VARCHAR)), 4, 1)) - 1))
                        + 1) / 65537.0)) * 1000000) AS BIGINT)
                   AS gumbel_micro
            FROM weights)
        SELECT id, n_feats, logweight_micro, gumbel_micro,
               CAST(logweight_micro + gumbel_micro AS BIGINT) AS key_micro
        FROM gum
        ORDER BY key_micro DESC, id ASC
        LIMIT 50
    """
    _lm_ctes = o["lm_perplexity"].rsplit("SELECT id,", 1)[0]
    o["perplexity_tiers"] = _lm_ctes + """
        , scored AS (
            SELECT id,
                   CAST((-CAST(sum(tf * CAST(round((ln(c2 + 1) - ln(c1 + v))
                                                   * 1000000) AS BIGINT))
                               AS BIGINT))
                        // CAST(sum(tf) AS BIGINT) AS BIGINT) AS score
            FROM j GROUP BY id)
        SELECT id, score,
               CAST(ntile(3) OVER (ORDER BY score ASC, id ASC) AS INTEGER)
               AS tier
        FROM scored
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

    # token-budget mixing: the oracle states the NAIVE per-group
    # cumulative rule (one window); the operator's bucketed three-step
    # must match it bit-for-bit
    o["token_budget_mixture"] = """
        WITH t AS (SELECT doc_id, lang, n_chars,
                          md5(CAST(doc_id AS VARCHAR)) AS tk
                   FROM documents),
        c AS (SELECT doc_id, lang, n_chars,
                     sum(n_chars) OVER (PARTITION BY lang
                                        ORDER BY tk ASC, doc_id ASC
                                        ROWS UNBOUNDED PRECEDING) AS cum
              FROM t),
        b AS (SELECT *, CASE lang WHEN 'en' THEN 30000
                                  WHEN 'de' THEN 10000
                                  WHEN 'zh' THEN 0
                                  WHEN 'fr' THEN 999999999
                                  ELSE NULL END AS budget
              FROM c)
        SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        FROM b WHERE budget IS NULL OR cum <= budget
    """

    o["lm_backoff"] = """
        WITH base AS (
            SELECT doc_id AS id,
                   regexp_extract_all(
                       translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                       'abcdefghijklmnopqrstuvwxyz'),
                       '[^\t\n\f\r ]+') AS toks,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2'
                        THEN 'holdout' ELSE 'train' END AS split
            FROM documents),
        trtg AS (
            SELECT toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3,
                   count(*) AS c123
            FROM (SELECT toks, unnest(range(1, len(toks) - 1)) AS i
                  FROM base WHERE split = 'train')
            GROUP BY 1, 2, 3),
        trbg AS (
            SELECT toks[i] AS w1, toks[i + 1] AS w2, count(*) AS c2
            FROM (SELECT toks, unnest(range(1, len(toks))) AS i
                  FROM base WHERE split = 'train')
            GROUP BY 1, 2),
        truni AS (
            SELECT t AS term, count(*) AS c
            FROM (SELECT unnest(toks) AS t FROM base WHERE split = 'train')
            GROUP BY 1),
        tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n,
                       CAST(count(*) AS BIGINT) AS v
                FROM truni),
        hotg AS (
            SELECT id, toks[i] AS w1, toks[i + 1] AS w2,
                   toks[i + 2] AS w3, count(*) AS tf
            FROM (SELECT id, toks, unnest(range(1, len(toks) - 1)) AS i
                  FROM base WHERE split = 'holdout')
            GROUP BY 1, 2, 3, 4),
        j AS (
            SELECT id, tf,
                   coalesce(c123, 0) AS c123,
                   coalesce(b12.c2, 0) AS c12,
                   coalesce(b23.c2, 0) AS c23,
                   coalesce(u2.c, 0) AS cw2,
                   coalesce(u3.c, 0) AS cw3
            FROM hotg
            LEFT JOIN trtg USING (w1, w2, w3)
            LEFT JOIN trbg b12 ON hotg.w1 = b12.w1 AND hotg.w2 = b12.w2
            LEFT JOIN trbg b23 ON hotg.w2 = b23.w1 AND hotg.w3 = b23.w2
            LEFT JOIN truni u2 ON hotg.w2 = u2.term
            LEFT JOIN truni u3 ON hotg.w3 = u3.term),
        terms AS (
            SELECT id, tf, c123, c23,
                   CAST(round((CASE
                       WHEN c123 > 0 THEN ln(c123) - ln(c12)
                       WHEN c23 > 0 THEN ln(0.4) + ln(c23) - ln(cw2)
                       ELSE ln(0.4) + ln(0.4) + ln(cw3 + 1)
                            - ln(CAST((SELECT n FROM tot)
                                      + (SELECT v FROM tot) AS DOUBLE))
                   END) * 1000000) AS BIGINT) AS lp
            FROM j)
        SELECT id,
               CAST(sum(tf) AS BIGINT) AS n_trigrams,
               CAST(sum(CASE WHEN c123 > 0 THEN tf ELSE 0 END) AS BIGINT)
                   AS hit3,
               CAST(sum(CASE WHEN c123 = 0 AND c23 > 0 THEN tf ELSE 0 END)
                    AS BIGINT) AS hit2,
               CAST(sum(tf * lp) AS BIGINT) AS logscore_micro
        FROM terms GROUP BY id
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

    o["page_link_pagerank"] = (f"""
        WITH {_anchor_ctes},
        links AS (SELECT 'h' || CAST(id % 11 AS VARCHAR) || '.example'
                             AS src,
                         host AS dst
                  FROM pairs),
        e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
              FROM links WHERE src <> dst GROUP BY 1, 2),"""
        + _pr_iter_ctes(5) + """
        SELECT node AS host, r AS rank_micro FROM r5
    """)

    o["site_table"] = (f"""
        WITH {_anchor_ctes},
        links AS (SELECT 'h' || CAST(id % 11 AS VARCHAR) || '.example'
                             AS src,
                         host AS dst
                  FROM pairs),
        e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
              FROM links WHERE src <> dst GROUP BY 1, 2),"""
        + _pr_iter_ctes(5) + f""",
        tok AS (
            SELECT doc_id AS id,
                   unnest(regexp_extract_all(
                       translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                       'abcdefghijklmnopqrstuvwxyz'),
                       '[^\t\n\f\r ]+')) AS term
            FROM documents),
        wt AS (SELECT id, CAST({_wexpr} AS BIGINT) AS w FROM tok),
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

    o["html_title_meta"] = """
        WITH h AS (
            SELECT doc_id,
                   '<html><head><title>  Doc ' || CAST(doc_id AS VARCHAR)
                   || chr(10) || '(' || lang
                   || ')  </title></head><body><h1>A</h1>'
                   || CASE WHEN doc_id % 3 = 0
                           THEN '<h1 class="x">B</h1>' ELSE '' END
                   || '<p>' || text || '</p></body></html>' AS html
            FROM documents)
        SELECT doc_id,
               trim(regexp_replace(
                   coalesce(regexp_extract(
                       html, '(?is)<title[^>]*>(.*?)</title>', 1), ''),
                   '[\t\n\f\r ]+', ' ', 'g')) AS title,
               CAST(len(regexp_extract_all(
                   html, '(?i)<h1[\t\n\f\r >]')) AS INTEGER) AS n_h1
        FROM h
    """

    o["host_blocklist"] = f"""
        WITH tok AS (
            SELECT doc_id AS id,
                   unnest(regexp_extract_all(
                       translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                       'abcdefghijklmnopqrstuvwxyz'),
                       '[^\t\n\f\r ]+')) AS term
            FROM documents),
        wt AS (SELECT id, CAST({_wexpr} AS BIGINT) AS w FROM tok),
        ds AS (SELECT id, CAST(sum(w) AS BIGINT) AS score
               FROM wt GROUP BY id),
        h AS (SELECT 'h' || CAST(id % 17 AS VARCHAR) AS host, score FROM ds)
        SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(score) AS BIGINT) AS score_sum,
               sum(score) * 1 < -5 * count(*) AS blocked
        FROM h GROUP BY host
    """

    o["training_order"] = """
        WITH t AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS tk
                   FROM documents),
        s AS (SELECT doc_id, tk,
                     CAST(((instr('0123456789abcdef', substr(tk, 1, 1)) - 1)
                            * 16
                           + (instr('0123456789abcdef', substr(tk, 2, 1))
                              - 1)) % 7 AS INTEGER) AS shard
              FROM t)
        SELECT doc_id, shard,
               CAST(row_number() OVER (PARTITION BY shard
                                       ORDER BY tk ASC, doc_id ASC)
                    AS INTEGER) AS pos
        FROM s
    """
    return o
