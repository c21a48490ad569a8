"""Physical-plan regression tests: the plan properties that matter at
100 TB must hold, not just the results (SURVEY §4.2).

These assert against the formatted physical plan string — crude but
effective regression pins: a change that silently turns a broadcast join
into a cartesian product, or starts scanning all columns for a two-column
projection, fails here long before it fails at scale.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from ocr_system_spark.plans.pipeline import extract_all, with_buckets
from ocr_system_spark.sources.tables import load, pages_from_documents

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


_PY_NODE = re.compile(
    r"^\(\d+\) (ArrowEvalPython|MapInArrow|MapInPandas)\n(Input \[\d+\]: .*)$",
    re.M)


def python_nodes(df) -> list:
    """(node, input line) for every Python evaluation node in the plan."""
    return _PY_NODE.findall(plan_of(df))


def test_extraction_pipeline_is_narrow_and_pruned(spark):
    pages = pages_from_documents(spark, SF)
    res = extract_all(with_buckets(pages, 16))
    p = plan_of(res)
    # no shuffle anywhere in the unbucketed pipeline
    assert "Exchange" not in p, p
    # the parquet scan reads only the columns the page build needs
    assert "ReadSchema: struct<doc_id:bigint,text:string,lang:string>" in p, p


def test_fields_only_prunes_html(spark):
    from ocr_system_spark.operators.extract import extract_fields
    pages = pages_from_documents(spark, SF)
    res = extract_fields(pages)
    p = plan_of(res)
    # html is never built nor shipped when only the text fields are needed:
    # the Encode(concat(...)) page-render expression must be pruned away
    assert "Encode" not in p, p


def test_multi_join_broadcasts_dims(spark):
    df = entry.queries()["multi_join"](spark, SF)
    p = plan_of(df)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_agg_pricing_pushes_filter_to_scan(spark):
    df = entry.queries()["agg_pricing"](spark, SF)
    p = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p, p
    # partial (map-side) aggregation before the exchange
    assert p.count("HashAggregate") >= 2, p


def test_partition_pruning_on_lang_date_layout(spark, tmp_path):
    """SURVEY §4.2's pushdown claim, evidenced without Iceberg jars: a
    results table written partitionBy(lang, crawl_date) must answer a
    ``lang = 'en' AND crawl_date >= X`` predicate by PRUNING partitions at
    plan time — the predicate shows up as a PartitionFilter on the scan,
    not a post-scan Filter, and the scan reads only the matching
    directories.  On an Iceberg catalog the same DataFrame code gets the
    same pruning from the manifest layer."""
    p = str(tmp_path / "results")
    df = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.element_at(F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
                     (F.col("id") % 3 + 1).cast("int")).alias("lang"),
        F.date_add(F.lit("2026-01-01").cast("date"),
                   (F.col("id") % 8).cast("int")).alias("crawl_date"),
        F.concat(F.lit("text "), F.col("id")).alias("text"))
    df.write.partitionBy("lang", "crawl_date").parquet(p)

    out = (spark.read.parquet(p)
           .filter((F.col("lang") == "en")
                   & (F.col("crawl_date") >= "2026-01-05"))
           .select("doc_id", "text"))
    plan = plan_of(out)
    assert "PartitionFilters" in plan, plan
    seg = plan[plan.index("PartitionFilters"):]
    seg = seg[:seg.index("]") + 1]
    assert "lang" in seg and "crawl_date" in seg, seg
    # the partition predicate must NOT survive as a row-level Filter
    assert "isnotnull(lang" not in plan.split("PartitionFilters")[0], plan
    # and it computes the right thing: en docs dated >= Jan 5
    assert out.count() == df.filter(
        (F.col("lang") == "en")
        & (F.col("crawl_date") >= "2026-01-05")).count()


def test_semi_anti_join_strategies(spark):
    qs = entry.queries()
    for name in ["semi_join", "anti_join"]:
        p = plan_of(qs[name](spark, SF))
        assert ("LeftSemi" in p) or ("LeftAnti" in p), (name, p)
        assert "CartesianProduct" not in p


def test_embedding_dup_pairs_is_bucket_join_not_nested_loop(spark):
    """The round-1 all-pairs form compiled to a BroadcastNestedLoopJoin —
    a 10^24-pair catastrophe at corpus scale. The SRP-bucketed form must
    stay an equality hash/sort-merge join."""
    df = entry.queries()["embedding_dup_pairs"](spark, SF)
    p = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_cosine_dup_pairs_bucketed_matches_exact(spark):
    """Recall shadow: at test scale the LSH-bucketed pairs equal the exact
    all-pairs answer (planted scaled copies sit at cosine ≈ 1, where the
    analytical miss probability is ~1e-21)."""
    from ocr_system_spark.operators.similarity import (
        cosine_dup_pairs_exact, cosine_dup_pairs_lsh)
    e = load(spark, SF, "embeddings").select("vec_id", "embedding")
    scaled = e.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.01)).alias("embedding"))
    u = e.union(scaled)
    got = {(r.id_a, r.id_b) for r in cosine_dup_pairs_lsh(u).collect()}
    exp = {(r.id_a, r.id_b) for r in cosine_dup_pairs_exact(u).collect()}
    assert got == exp and exp


def test_new_pipeline_queries_scan_pruned_no_cartesian(spark):
    qs = entry.queries()
    for name in ["repetition_stats", "gopher_quality"]:
        p = plan_of(qs[name](spark, SF))
        assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
        # only (doc_id, text) reach the scan
        assert "ReadSchema: struct<doc_id:bigint,text:string>" in p, (name, p)


def test_no_query_compiles_to_nested_loop_join(spark):
    """Fleet-wide plan sweep: NO driver query may contain a cartesian or
    broadcast-nested-loop join — at 10^12 rows any of those is a job that
    never finishes. (Queries with iterative driver-side loops execute some
    jobs while building; sf0.001 keeps that cheap.)"""
    for name, fn in entry.queries().items():
        p = plan_of(fn(spark, SF))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_column_pruning_on_projection(spark):
    li = load(spark, SF, "lineitem")
    df = li.select("l_orderkey", "l_quantity").filter(F.col("l_quantity") > 10)
    p = plan_of(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in p, p


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """Two tables bucketed+sorted on the join key by the same bucket count
    must join with ZERO Exchange operators — the storage-level co-location
    that removes the two big shuffles of a repeated enrichment join."""
    from ocr_system_spark.plans.bucketed import colocated_join, write_bucketed

    li = load(spark, SF, "lineitem").select("l_orderkey", "l_quantity", "l_extendedprice")
    o = load(spark, SF, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    thresh_key = "spark.sql.autoBroadcastJoinThreshold"
    prev_thresh = spark.conf.get(thresh_key)
    try:
        write_bucketed(li, "li_b", "l_orderkey", n_buckets=8)
        write_bucketed(o, "o_b", "l_orderkey", n_buckets=8)
        # the point is the LARGE×LARGE case — at test scale the small side
        # would auto-broadcast, so disable that to see the co-located SMJ
        spark.conf.set(thresh_key, "-1")
        joined = colocated_join(spark, "li_b", "o_b", on="l_orderkey")
        p = plan_of(joined)
        assert "Exchange" not in p, p
        assert "SortMergeJoin" in p, p
        # and it actually computes the right thing
        n = joined.count()
        exp = li.join(o, "l_orderkey").count()
        assert n == exp
    finally:
        spark.conf.set(thresh_key, prev_thresh)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_url_canon_dedup_is_pure_jvm_single_shuffle(spark):
    """URL canonicalization must stay a JVM expression chain: no Python
    eval node anywhere, scan pruned to doc_id (the url is synthesized),
    and exactly the one groupBy shuffle (partial + final agg pair)."""
    df = entry.queries()["url_canon_dedup"](spark, SF)
    p = plan_of(df)
    assert "Python" not in p, p
    assert "ReadSchema: struct<doc_id:bigint>" in p, p
    assert p.count("Exchange") <= 2, p


def test_dup_spans_joins_are_keyed_never_cartesian(spark):
    """The fp self-join must compile to hash/sort-merge joins keyed by the
    fingerprint — a nested-loop here is quadratic corpus death."""
    df = entry.queries()["dup_spans"](spark, SF)
    p = plan_of(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


# ---------------------------------------------------------------------------
# Python kernels run once per row: a filter over a projected pandas UDF is
# pushed below the projection and evaluates the UDF a second time, so each
# of these plans must hold exactly one Python node per kernel input.
# ---------------------------------------------------------------------------

def _fresh_docs(spark):
    """An uncached input, so no cached plan stands in for the kernel."""
    words = " ".join(f"w{i}" for i in range(40))
    return spark.createDataFrame(
        [(1, words), (2, "the and of " + words), (3, "too short")],
        "doc_id long, text string")


def test_minhash_signatures_runs_kernel_once(spark):
    from ocr_system_spark.operators import dedup
    nodes = python_nodes(dedup.minhash_signatures(_fresh_docs(spark), "doc_id"))
    assert len(nodes) == 1, nodes


def test_ngram_jaccard_pairs_runs_one_arrow_map(spark):
    from ocr_system_spark.operators import dedup
    nodes = python_nodes(dedup.ngram_jaccard_pairs(_fresh_docs(spark), "doc_id"))
    assert [node for node, _ in nodes] == ["MapInArrow"], nodes


def test_gopher_filter_runs_kernel_once(spark):
    from ocr_system_spark.operators.textstats import with_gopher_quality
    nodes = python_nodes(
        with_gopher_quality(_fresh_docs(spark)).filter("gopher_pass"))
    assert len(nodes) == 1, nodes


def test_contamination_hits_runs_each_kernel_once(spark):
    from ocr_system_spark.operators.decontaminate import contamination_hits
    docs = _fresh_docs(spark)
    nodes = python_nodes(contamination_hits(
        docs, docs.filter("doc_id = 1").select("text"), n=5))
    corpus = [x for x in nodes if "doc_id" in x[1]]
    bench = [x for x in nodes if "doc_id" not in x[1]]
    assert len(corpus) == 1 and len(bench) == 1, nodes


def _embeddings(spark):
    rows = [(i, [float((i * 7 + d) % 5) - 2.0 for d in range(64)])
            for i in range(12)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _lsh_topk(spark):
    from ocr_system_spark.operators.similarity import lsh_topk
    e = _embeddings(spark)
    return lsh_topk(e, e.filter("vec_id < 3"), k=2)


def _cosine_dup_pairs_lsh(spark):
    from ocr_system_spark.operators.similarity import cosine_dup_pairs_lsh
    return cosine_dup_pairs_lsh(_embeddings(spark))


def _ivf_assign(spark):
    from ocr_system_spark.operators.similarity import ivf_assign
    return ivf_assign(_embeddings(spark), [[1.0] * 64, [-1.0] * 64])


def _bpe_encode(spark):
    from ocr_system_spark.operators.bpe import bpe_encode, bpe_train
    docs = _fresh_docs(spark)
    return bpe_encode(docs, bpe_train(docs, n_merges=4))


def _decontaminate_bloom(spark):
    from ocr_system_spark.operators.decontaminate import decontaminate_bloom
    docs = _fresh_docs(spark)
    return decontaminate_bloom(docs, docs.filter("doc_id = 1"), n=5)


def _remove_duplicate_lines(spark):
    from ocr_system_spark.operators.lines import remove_duplicate_lines
    return remove_duplicate_lines(_fresh_docs(spark), min_docs=2)


def _with_custom_column(spark):
    from ocr_system_spark.operators.extract import with_custom_column
    res = spark.createDataFrame([("u1", "L-1"), ("u2", None)],
                                "url string, licenses string")
    return with_custom_column(res, lambda rows: rows["url"])


def _textstats(op):
    def build(spark):
        from ocr_system_spark.operators import textstats
        return getattr(textstats, op)(_fresh_docs(spark))
    return build


def _normalize_text(spark):
    from ocr_system_spark.operators.normalize import normalize_text
    return normalize_text(_fresh_docs(spark))


def _with_simhash(spark):
    from ocr_system_spark.operators.dedup import with_simhash
    return with_simhash(_fresh_docs(spark))


# (operator, plan builder, kernel inputs: one Python node each)
_PER_ROW_KERNELS = [
    ("with_langid", _textstats("with_langid"), 1),
    ("with_quality", _textstats("with_quality"), 1),
    ("with_token_counts", _textstats("with_token_counts"), 1),
    ("with_repetition_stats", _textstats("with_repetition_stats"), 1),
    ("winnow_fingerprints", _textstats("winnow_fingerprints"), 1),
    ("with_simhash", _with_simhash, 1),
    ("normalize_text", _normalize_text, 1),
    # the line rebuild is a JVM mark join: no Python node at all
    ("remove_duplicate_lines_local", _remove_duplicate_lines, 0),
    ("bpe_encode", _bpe_encode, 1),
    ("ivf_assign", _ivf_assign, 1),
    ("with_custom_column", _with_custom_column, 1),
    # corpus side and query side
    ("lsh_topk", _lsh_topk, 2),
    # one per self-join side: the SRP kernel still runs twice per row
    ("cosine_dup_pairs_lsh", _cosine_dup_pairs_lsh, 2),
    # benchmark shingles, corpus shingles, then the Bloom probe over them
    ("decontaminate_bloom", _decontaminate_bloom, 3),
]


@pytest.mark.parametrize("build,n_inputs",
                         [c[1:] for c in _PER_ROW_KERNELS],
                         ids=[c[0] for c in _PER_ROW_KERNELS])
def test_per_row_kernels_run_as_one_arrow_map(spark, build, n_inputs):
    """Every per-row kernel goes through the pass-through map: no
    projected pandas UDF (``ArrowEvalPython``) is left for a filter to
    re-evaluate, and a ``bpe_encode`` that drops token-less documents in
    the kernel holds one Python node, not two."""
    nodes = python_nodes(build(spark))
    assert [node for node, _ in nodes] == ["MapInArrow"] * n_inputs, nodes




# ---------------------------------------------------------------------------
# Stages that emit their own rows cross the Python boundary as Arrow too:
# one MapInArrow each, no pandas round trip.
# ---------------------------------------------------------------------------

def _multimodal(op):
    def build(spark, tmp_path):
        from ocr_system_spark.operators import multimodal
        return getattr(multimodal, op)(multimodal.documents_as_media(
            _fresh_docs(spark)))
    return build


def _similarity(op):
    def build(spark, tmp_path):
        from ocr_system_spark.operators import similarity
        e = _embeddings(spark)
        return getattr(similarity, op)(e, e.filter("vec_id < 3"), k=2)
    return build


def _query(name):
    def build(spark, tmp_path):
        return entry.queries()[name](spark, SF)
    return build


def _extract_all(spark, tmp_path):
    return extract_all(with_buckets(pages_from_documents(spark, SF), 16))


def _extract_fields(spark, tmp_path):
    from ocr_system_spark.operators.extract import extract_fields
    return extract_fields(pages_from_documents(spark, SF))


def _model_extract(spark, tmp_path):
    from ocr_system_spark.operators.model_extract import model_extract
    return model_extract(_fresh_docs(spark), id_col="doc_id")


def _read_warc(spark, tmp_path):
    from datetime import datetime, timezone
    from ocr_system_spark.sources import warc
    path = str(tmp_path / "a.warc")
    warc.write_synthetic_warc(path, [("https://x.example/a", datetime(
        2024, 1, 1, tzinfo=timezone.utc), b"<p>a</p>")])
    return warc.read_warc(spark, path)


_ROW_EMITTING_STAGES = [
    ("extract_all", _extract_all),
    ("extract_fields", _extract_fields),
    ("model_extract", _model_extract),
    ("decode_media_features", _multimodal("decode_media_features")),
    ("frame_sample_stub", _multimodal("frame_sample_stub")),
    ("resize_stub", _multimodal("resize_stub")),
    ("brute_force_scored", _similarity("brute_force_scored")),
    ("ivf_scored", _similarity("ivf_scored")),
    ("brute_force_topk_int8", _similarity("brute_force_topk_int8")),
    ("read_warc", _read_warc),
    ("html_main_extract", _query("html_main_extract")),
    ("html_title_meta", _query("html_title_meta")),
]


@pytest.mark.parametrize("build", [c[1] for c in _ROW_EMITTING_STAGES],
                         ids=[c[0] for c in _ROW_EMITTING_STAGES])
def test_row_emitting_stages_run_as_one_arrow_map(spark, tmp_path, build):
    nodes = python_nodes(build(spark, tmp_path))
    assert [node for node, _ in nodes] == ["MapInArrow"], nodes
