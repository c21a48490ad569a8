"""Round-2 regression tests for the judge/advisor findings:

* tokenizer: self-closing tags must actually register as self-closing
  (the round-1 greedy attr group ate the trailing '/', so `<a/>` leaked
  link_depth and inflated link-density for all following text);
* asof_join: the matched right row's payload is attached even when a
  payload VALUE is NULL (no backfill from an older right row);
* run_extraction: exactly-once resume must not depend on the session's
  partitionOverwriteMode (a vanilla session defaults to static, which
  would truncate every previously completed bucket);
* ngram_jaccard_pairs: when the frequent-shingle guard fires, inter/uni/
  n_sh are all computed over the same reduced shingle universe.
"""

from __future__ import annotations

import datetime as dt
from itertools import combinations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_system_spark.functions.html_extract import _parse_one, extract_main_batch
from ocr_system_spark.operators.asof import asof_join
from ocr_system_spark.operators.dedup import ngram_jaccard_pairs
from ocr_system_spark.plans import pipeline as P
from tests.test_pipeline_e2e import pages_df


# ---------------------------------------------------------------------------
# tokenizer: self-closing tags
# ---------------------------------------------------------------------------

def test_self_closed_anchor_does_not_leak_link_depth():
    d = _parse_one("<div><a/>plain body text here</div>")
    # the text is owned by the div and must NOT be counted as link text
    i = d.tags.index("div")
    assert d.own_text[i] > 0
    assert d.own_link[i] == 0


def test_self_closing_variants_pop_correctly():
    # space before slash, attributes before slash, XHTML void-style
    d = _parse_one('<div><a href="x"/><span /><br/>content text</div>')
    i = d.tags.index("div")
    assert d.own_link[i] == 0
    assert d.own_text[i] == len("content text")
    # the self-closed span exists as an element but owns nothing
    j = d.tags.index("span")
    assert d.own_text[j] == 0


def test_real_anchor_still_counts_link_text():
    d = _parse_one("<div><a>link text</a> and body</div>")
    ia = d.tags.index("a")
    assert d.own_link[ia] == len("link text")
    i = d.tags.index("div")
    assert d.own_link[i] == 0 and d.own_text[i] == len("and body")


def test_unquoted_url_attr_slash_is_not_self_closing():
    # '/' inside an unquoted attribute value must not terminate the tag
    d = _parse_one("<div><a href=http://example.com/x>t</a> body</div>")
    ia = d.tags.index("a")
    assert d.own_link[ia] == 1  # "t" owned by the (open) anchor


def test_self_closing_page_extracts_clean_main():
    # A page whose nav is one self-closed anchor after another: if the '/' is
    # eaten, every anchor stays open, all body text becomes "link" text and
    # the main block's score collapses.
    html = ("<html><body><nav>" + '<a href="/x"/>' * 30 + "</nav>"
            "<div id=m><p>" + "genuine long article content words " * 30
            + "</p></div></body></html>")
    [(text, spans)] = extract_main_batch([html])
    assert text is not None and "genuine long article content" in text
    assert spans


# ---------------------------------------------------------------------------
# asof_join: NULL right payloads
# ---------------------------------------------------------------------------

def test_asof_attaches_matched_rows_nulls_without_backfill(spark):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    left = spark.createDataFrame(
        [("u", ts(10), 1), ("u", ts(30), 2)],
        schema="user_id string, ts timestamp, event_id int",
    )
    right = spark.createDataFrame(
        pd.DataFrame({
            "user_id": ["u", "u"],
            "ts": [ts(5), ts(25)],
            # the LATER right row carries a NULL payload value — true ASOF
            # must attach that NULL, not backfill 7.0 from the older row
            "val": [7.0, None],
            "tag": ["old", "new"],
        }),
        schema="user_id string, ts timestamp, val double, tag string",
    )
    out = (asof_join(left, right, on="ts", by="user_id",
                     right_cols=["val", "tag"])
           .orderBy("event_id").collect())
    assert out[0]["val_asof"] == 7.0 and out[0]["tag_asof"] == "old"
    assert out[1]["val_asof"] is None          # NOT backfilled to 7.0
    assert out[1]["tag_asof"] == "new"         # both cols from the same row


def test_asof_left_row_before_any_right_gets_all_nulls(spark):
    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [("u", t0, 1)], schema="user_id string, ts timestamp, event_id int")
    right = spark.createDataFrame(
        [("u", t0 + dt.timedelta(hours=1), 5.0)],
        schema="user_id string, ts timestamp, val double")
    row = asof_join(left, right, on="ts", by="user_id",
                    right_cols=["val"]).collect()[0]
    assert row["val_asof"] is None


# ---------------------------------------------------------------------------
# resume under a static-overwrite session
# ---------------------------------------------------------------------------

def test_resume_survives_static_partition_overwrite_session(
        spark, pages_fixture, tmp_path):
    """Simulate a vanilla SparkSession (static overwrite mode is Spark's
    default): a resumed run must still keep every previously completed
    bucket because run_extraction pins dynamic mode at the write itself."""
    small = pages_fixture.head(200).reset_index(drop=True)
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        out = str(tmp_path / "static_resume")
        s1 = P.run_extraction(spark, pages_df(spark, small), out,
                              run_id="rv", n_buckets=16, max_buckets=4)
        assert s1["buckets_processed"] == 4
        s2 = P.run_extraction(spark, pages_df(spark, small), out,
                              run_id="rv", n_buckets=16)
        assert s2["buckets_done_before"] == 4
        res = P.read_results(spark, out).toPandas()
        # the first run's buckets must still be present — exactly once
        assert len(res) == len(small)
        assert res["url"].is_unique
    finally:
        spark.conf.set(key, prev)


# ---------------------------------------------------------------------------
# ngram Jaccard: hot-shingle drop keeps counts self-consistent
# ---------------------------------------------------------------------------

def _shingles(text: str, n: int = 3) -> set:
    w = text.split()
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def test_hot_shingle_drop_keeps_inter_uni_consistent(spark):
    # every doc shares the same hot prefix (one shingle in all 6 docs);
    # with max_group=3 that shingle is dropped from the UNIVERSE, so the
    # expected answer is plain Jaccard over the reduced shingle sets.
    hot = "common viral header"
    bodies = [
        "alpha beta gamma delta epsilon",
        "alpha beta gamma delta zeta",
        "totally different words here now",
        "unrelated content on this line",
        "alpha beta gamma delta epsilon",   # exact dup of doc 0 body
        "more unrelated filler text words",
    ]
    rows = [(i, f"{hot} {b}") for i, b in enumerate(bodies)]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    got = {
        (r.id_a, r.id_b): (r.inter, r.uni)
        for r in ngram_jaccard_pairs(df, "doc_id", min_jaccard_pct=50,
                                     max_group=3).collect()
    }
    # expected: Jaccard over shingle sets with the universally shared
    # shingle removed (it appears in all 6 > 3 docs)
    sets = {i: _shingles(t) for i, t in rows}
    from collections import Counter
    cnt = Counter(s for v in sets.values() for s in v)
    drop = {s for s, c in cnt.items() if c > 3}
    sets = {i: v - drop for i, v in sets.items()}
    exp = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        uni = len(sets[a] | sets[b])
        if inter >= 1 and 100 * inter >= 50 * uni:
            exp[(a, b)] = (inter, uni)
    assert got == exp
    assert got, "guard dropped everything — test is vacuous"
    # texts with no shingle (empty, NULL, fewer than n words) add no pair
    extra = [(6, ""), (7, None), (8, "two words")]
    df = spark.createDataFrame(rows + extra, schema="doc_id long, text string")
    assert {
        (r.id_a, r.id_b): (r.inter, r.uni)
        for r in ngram_jaccard_pairs(df, "doc_id", min_jaccard_pct=50,
                                     max_group=3).collect()
    } == got
