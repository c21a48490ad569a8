"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline on sf0.001.
``queries()`` exposes one DataFrame callable per implemented operator from
SURVEY.md §2 (plus the training-data-pipeline operators); ``oracle_sql()``
gives the DuckDB-runnable ANSI equivalent for EVERY query — no rows-only
entries. Both merge the query families of ``registry/``. Registration
order is post-processed by ``_reorder_for_driver_window`` so the driver's
~50-entry CORRECTNESS snapshot covers the queries that most recently lack
a driver-recorded row; ``oracle_max_sf()`` advises which (quadratic-replay)
oracles to cap at sf0.01.
"""

from __future__ import annotations

import functools
import sys
from collections.abc import Iterable
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from ocr_system_spark.plans.pipeline import extract_all, with_buckets  # noqa: E402
from ocr_system_spark.session import ensure_package_on_executors  # noqa: E402
from ocr_system_spark.sources import tables  # noqa: E402
from registry import (  # noqa: E402
    dedup, embedding, extraction, graph, lines, mixture, relational, textstats)
from registry._shared import Builder  # noqa: E402

FAMILIES = (extraction, relational, dedup, textstats, lines, embedding,
            mixture, graph)


def entry(spark: SparkSession) -> DataFrame:
    """Pages built from sf0.001 documents → full fused extraction pipeline
    (bucketed, skew-aware) → results DataFrame."""
    ensure_package_on_executors(spark)
    pages = tables.pages_from_documents(spark, "/root/testdata/sf0.001")
    bucketed = with_buckets(pages, n_buckets=8, skew_bytes=1 << 20)
    return extract_all(bucketed)


def _merge(parts: Iterable[dict]) -> dict:
    """One dict from the families' dicts. A name that two families register
    is an error, never a silent overwrite."""
    out: dict = {}
    for part in parts:
        for name, value in part.items():
            if name in out:
                raise ValueError(f"query {name!r} is registered twice")
            out[name] = value
    return out


def _shipped(fn: Builder) -> Builder:
    """``fn`` after shipping the package to the executors, which every
    kernel a builder plans needs; once per session."""
    @functools.wraps(fn)
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_package_on_executors(spark)
        return fn(spark, sf_dir)
    return build


def queries() -> dict[str, Builder]:
    q = _merge(family.queries() for family in FAMILIES)
    return _reorder_for_driver_window(
        {name: _shipped(fn) for name, fn in q.items()})


def oracle_sql() -> dict[str, str]:
    return _merge(family.oracle_sql() for family in FAMILIES)


def oracle_max_sf() -> dict[str, float]:
    """Advisory per-query cap on the sf at which a DuckDB oracle should be
    replayed; see ``registry.dedup.oracle_max_sf``."""
    return _merge(family.oracle_max_sf() for family in FAMILIES
                  if hasattr(family, "oracle_max_sf"))


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
