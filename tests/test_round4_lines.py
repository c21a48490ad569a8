"""Line-level curation operators (operators/lines.py): unit semantics,
edge cases, and physical-plan pins."""
from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ocr_system_spark.operators.lines import (
    c4_clean,
    hot_lines,
    intra_doc_dup_stats,
    line_doc_frequency,
    remove_duplicate_lines,
    strip_template_lines,
    unigram_freq_score,
)


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t)
                                  for i, t in rows])


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def _final_plan(df) -> str:
    """The plan AQE settled on: run the query, then read its plan.  An
    unhinted join over an aggregate has no static size estimate, so the
    broadcast-or-shuffle choice shows only after the runtime re-plan."""
    df.collect()
    return _plan(df)


def ref_remove_duplicate_lines(df, min_docs, id_col="doc_id",
                               text_col="text", line_sep="\n"):
    """Plain-Python reference for ``remove_duplicate_lines``: split each
    document on the separator, drop the non-blank lines found in >=
    ``min_docs`` documents, rejoin, count.  Sorted (id, clean_text,
    n_lines, n_removed) tuples."""
    docs = [(r[id_col], (r[text_col] or "").split(line_sep))
            for r in df.select(id_col, text_col).collect()]
    n_docs = {}
    for _, ls in docs:
        for line in {l for l in ls if l.strip(" ") != ""}:
            n_docs[line] = n_docs.get(line, 0) + 1
    hot = {l for l, n in n_docs.items() if n >= min_docs}
    out = []
    for i, ls in docs:
        kept = [l for l in ls if l not in hot]
        out.append((i, line_sep.join(kept), len(ls), len(ls) - len(kept)))
    return sorted(out)


@contextmanager
def _no_auto_broadcast(spark):
    """Plan every join as a shuffle join: with the auto-broadcast
    threshold off, Catalyst (and AQE, which inherits it) never
    broadcasts the hot side, so the large-large join shape runs."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


class TestLineDocFrequency:
    def test_counts_distinct_docs_not_occurrences(self, spark):
        # doc 0 repeats "dup" twice — still one doc
        df = _docs(spark, [(0, "dup\nx\ndup"), (1, "dup\ny"), (2, "z")])
        got = {r["line"]: r["n_docs"]
               for r in line_doc_frequency(df).collect()}
        assert got == {"dup": 2, "x": 1, "y": 1, "z": 1}

    def test_blank_lines_excluded(self, spark):
        df = _docs(spark, [(0, "a\n\n  \nb"), (1, "\n\n")])
        got = {r["line"] for r in line_doc_frequency(df).collect()}
        assert got == {"a", "b"}

    def test_hot_threshold(self, spark):
        df = _docs(spark, [(i, "common\nuniq%d" % i) for i in range(5)])
        hot = hot_lines(df, min_docs=5).collect()
        assert [(r["line"], r["n_docs"]) for r in hot] == [("common", 5)]
        assert hot_lines(df, min_docs=6).count() == 0


class TestRemoveDuplicateLines:
    def test_removes_hot_preserves_order_and_blanks(self, spark):
        df = _docs(spark, [
            (0, "keep one\nboiler\n\nkeep two\nboiler"),
            (1, "boiler\nother"),
            (2, "boiler"),
        ])
        out = {r["id"]: r for r in
               remove_duplicate_lines(df, min_docs=3).collect()}
        assert out[0]["clean_text"] == "keep one\n\nkeep two"
        assert out[0]["n_lines"] == 5 and out[0]["n_removed"] == 2
        assert out[1]["clean_text"] == "other"
        # every line removed -> empty doc, still one output row
        assert out[2]["clean_text"] == "" and out[2]["n_removed"] == 1

    def test_repeated_hot_line_in_one_doc_removed_everywhere(self, spark):
        df = _docs(spark, [(0, "h\na\nh"), (1, "h"), (2, "h")])
        out = {r["id"]: r for r in
               remove_duplicate_lines(df, min_docs=3).collect()}
        assert out[0]["clean_text"] == "a" and out[0]["n_removed"] == 2

    def test_fixpoint(self, spark):
        """Re-running removal on cleaned text removes nothing more."""
        df = _docs(spark, [(i, "common\nmine %d" % i) for i in range(4)])
        once = remove_duplicate_lines(df, min_docs=3).select(
            "id", F.col("clean_text").alias("text"))
        twice = remove_duplicate_lines(
            once, min_docs=3, id_col="id", text_col="text").collect()
        assert all(r["n_removed"] == 0 for r in twice)

    def test_all_rebuild_paths_identical(self, spark):
        df = _docs(spark, [(i, "common\nmine %d" % i) for i in range(4)])
        want = ref_remove_duplicate_lines(df, min_docs=3)
        bcast = sorted(map(tuple, remove_duplicate_lines(
            df, min_docs=3).collect()))
        with _no_auto_broadcast(spark):
            shuffle = sorted(map(tuple, remove_duplicate_lines(
                df, min_docs=3).collect()))
        assert want == bcast == shuffle

    def test_paragraph_granularity(self, spark):
        """line_sep='\\n\\n' dedups PARAGRAPHS (the CCNet granularity):
        a multi-line paragraph is one dedup unit, and single newlines
        inside it survive removal of other paragraphs."""
        para = "shared para line one\nshared para line two"
        df = _docs(spark, [
            (0, para + "\n\nunique zero"),
            (1, para + "\n\nunique one"),
            (2, para),
        ])
        out = {r["id"]: r for r in remove_duplicate_lines(
            df, min_docs=3, line_sep="\n\n").collect()}
        assert out[0]["clean_text"] == "unique zero"
        assert out[0]["n_lines"] == 2 and out[0]["n_removed"] == 1
        assert out[2]["clean_text"] == ""
        # line granularity on the same corpus removes the two LINES
        out_l = {r["id"]: r for r in remove_duplicate_lines(
            df, min_docs=3).collect()}
        assert out_l[0]["clean_text"] == "\nunique zero"
        # the plain-Python reference agrees at both granularities
        assert sorted(map(tuple, out.values())) \
            == ref_remove_duplicate_lines(df, min_docs=3, line_sep="\n\n")
        assert sorted(map(tuple, out_l.values())) \
            == ref_remove_duplicate_lines(df, min_docs=3)

    def test_auto_switches_and_results_identical(self, spark):
        """Broadcast and shuffled mark joins, at line and paragraph
        granularity, with blank, repeated and null-text documents: every
        arm returns the reference's rows."""
        df = spark.createDataFrame(
            [(i, "common line\n\nmine %d\ncommon line" % i)
             for i in range(4)]
            + [(4, None), (5, "  \n\ncommon line"), (6, "")],
            "doc_id long, text string")
        for sep in ("\n", "\n\n"):
            want = ref_remove_duplicate_lines(df, min_docs=3, line_sep=sep)
            bcast = sorted(map(tuple, remove_duplicate_lines(
                df, min_docs=3, line_sep=sep).collect()))
            with _no_auto_broadcast(spark):
                shuffle = sorted(map(tuple, remove_duplicate_lines(
                    df, min_docs=3, line_sep=sep).collect()))
            assert want == bcast == shuffle, sep

    def test_auto_plan_reflects_selected_strategy(self, spark):
        """Spark, not the caller, picks the mark join: a broadcast for a
        small hot set, a sort-merge join once broadcasting is off.  No
        Python node on either plan."""
        df = _docs(spark, [(i, "common line\nmine %d" % i)
                           for i in range(4)])
        p = _final_plan(remove_duplicate_lines(df, min_docs=3))
        assert "BroadcastHashJoin" in p
        assert "MapInArrow" not in p and "ArrowEvalPython" not in p
        with _no_auto_broadcast(spark):
            p2 = _plan(remove_duplicate_lines(df, min_docs=3))
        assert "BroadcastHashJoin" not in p2 and "SortMergeJoin" in p2
        assert "MapInArrow" not in p2 and "ArrowEvalPython" not in p2

    def test_building_starts_no_job(self, spark):
        """Building the transform runs nothing: no probe aggregate and no
        hot-set collect before the caller's action."""
        sc = spark.sparkContext
        group = "remove_duplicate_lines_build"
        df = _docs(spark, [(i, "common\nmine %d" % i) for i in range(4)])
        sc.setJobGroup(group, "build only")
        try:
            out = remove_duplicate_lines(df, min_docs=3)
            built = len(sc.statusTracker().getJobIdsForGroup(group))
            out.count()
            acted = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert built == 0
        assert acted > 0   # the tracker does see this group's jobs

    def test_join_plan_broadcasts_hot_set_no_nested_loop(self, spark):
        df = _docs(spark, [(i, "common\nmine %d" % i) for i in range(4)])
        p = _final_plan(remove_duplicate_lines(df, min_docs=3))
        assert "BroadcastHashJoin" in p
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


class TestStripTemplateLines:
    def _hosted(self, spark, rows):
        return spark.createDataFrame(
            [Row(doc_id=i, host=h, text=t) for i, h, t in rows])

    def test_strips_majority_lines_per_host_only(self, spark):
        df = self._hosted(spark, [
            # host a: 5 docs, "foot" in 3/5 (>= 1/2) -> stripped
            (0, "a", "foot\nc0"), (1, "a", "foot\nc1"), (2, "a", "foot\nc2"),
            (3, "a", "c3"), (4, "a", "c4"),
            # host b: 4 docs (< min_host_docs=5) -> untouched
            (5, "b", "foot\nd0"), (6, "b", "foot\nd1"),
            (7, "b", "foot\nd2"), (8, "b", "foot\nd3"),
        ])
        out = {r["id"]: r for r in strip_template_lines(
            df, host_col="host", min_frac_num=1, min_frac_den=2,
            min_host_docs=5).collect()}
        assert out[0]["clean_text"] == "c0" and out[0]["n_removed"] == 1
        assert out[3]["clean_text"] == "c3" and out[3]["n_removed"] == 0
        # small host keeps its template line
        assert out[5]["clean_text"] == "foot\nd0"

    def test_shuffle_join_path_identical(self, spark):
        df = self._hosted(spark, [
            (0, "a", "foot\nc0"), (1, "a", "foot\nc1"), (2, "a", "foot\nc2"),
            (3, "a", "c3"), (4, "a", "c4"),
        ])
        bc = sorted(strip_template_lines(df, host_col="host").collect())
        with _no_auto_broadcast(spark):
            shuffled = strip_template_lines(df, host_col="host")
            # every join shuffles, the one-row-per-host join inside
            # template_line_doc_frequency included: no hint forces it
            p = _plan(shuffled)
            assert "SortMergeJoin" in p and "BroadcastHashJoin" not in p
            sh = sorted(shuffled.collect())
        assert bc == sh

    def test_fraction_is_integer_exact(self, spark):
        # 2 of 5 docs -> 2*2 >= 5*1 is false -> kept
        df = self._hosted(spark, [
            (0, "a", "edge\nc0"), (1, "a", "edge\nc1"),
            (2, "a", "c2"), (3, "a", "c3"), (4, "a", "c4"),
        ])
        out = {r["id"]: r for r in strip_template_lines(
            df, host_col="host").collect()}
        assert out[0]["clean_text"] == "edge\nc0"
        # 3 of 5 -> 3*2 >= 5 -> stripped
        df2 = self._hosted(spark, [
            (0, "a", "edge\nc0"), (1, "a", "edge\nc1"), (2, "a", "edge\nc2"),
            (3, "a", "c3"), (4, "a", "c4"),
        ])
        out2 = {r["id"]: r for r in strip_template_lines(
            df2, host_col="host").collect()}
        assert out2[0]["clean_text"] == "c0"


class TestC4Clean:
    def test_line_rules(self, spark):
        df = _docs(spark, [(0, "\n".join([
            "this line has five words.",     # kept
            "short line.",                    # < 5 words -> dropped
            "no terminal punctuation here at all",  # dropped
            "Please enable JavaScript to continue browsing.",  # js -> dropped
            "another good line with six words!",   # kept
            'quoted line of five words she said."',  # kept
        ]))])
        r = c4_clean(df, min_line_words=5, min_kept_lines=3).collect()[0]
        assert r["clean_text"].split("\n") == [
            "this line has five words.",
            "another good line with six words!",
            'quoted line of five words she said."',
        ]
        assert r["n_lines"] == 6 and r["n_kept"] == 3
        assert r["c4_pass"] is True

    def test_document_gates(self, spark):
        good = "one fine little line here.\n" * 3
        df = _docs(spark, [
            (0, good + "var x = { a: 1 }."),
            (1, good + "Lorem Ipsum dolor sit amet."),
            (2, good.strip()),
        ])
        out = {r["id"]: r for r in
               c4_clean(df, min_line_words=5, min_kept_lines=3).collect()}
        assert out[0]["has_brace"] and not out[0]["c4_pass"]
        assert out[1]["has_lorem"] and not out[1]["c4_pass"]
        assert out[2]["c4_pass"]

    def test_min_kept_lines_gate(self, spark):
        df = _docs(spark, [(0, "just one good line right here.")])
        r = c4_clean(df, min_line_words=5, min_kept_lines=3).collect()[0]
        assert r["n_kept"] == 1 and r["c4_pass"] is False

    def test_zero_shuffle_plan(self, spark):
        df = _docs(spark, [(0, "a line of five words.")])
        p = _plan(c4_clean(df))
        assert "Exchange" not in p, p


class TestUnigramFreqScore:
    def test_integer_scores(self, spark):
        # corpus: "a" x3, "b" x2, "c" x1
        df = _docs(spark, [(0, "a a b"), (1, "A b c")])
        out = {r["id"]: r for r in unigram_freq_score(df).collect()}
        # doc 0: tokens a,a,b -> 3+3+2 = 8 ; doc 1: a,b,c -> 3+2+1 = 6
        assert out[0]["n_tokens"] == 3 and out[0]["freq_sum"] == 8
        assert out[1]["n_tokens"] == 3 and out[1]["freq_sum"] == 6

    def test_empty_doc_emits_no_row(self, spark):
        df = _docs(spark, [(0, "word"), (1, "   ")])
        ids = {r["id"] for r in unigram_freq_score(df).collect()}
        assert ids == {0}


class TestIntraDocDupStats:
    def test_counts_and_chars(self, spark):
        # doc 0: "menu" x3 + "body text" -> 4 lines, 2 distinct
        df = _docs(spark, [(0, "menu\nbody text\nmenu\nmenu"),
                           (1, "only line")])
        out = {r["id"]: r for r in intra_doc_dup_stats(df).collect()}
        assert out[0]["n_lines"] == 4
        assert out[0]["n_distinct_lines"] == 2
        assert out[0]["line_chars"] == 3 * 4 + 9
        assert out[0]["distinct_line_chars"] == 4 + 9
        assert out[1]["n_lines"] == 1 and out[1]["n_distinct_lines"] == 1

    def test_blank_lines_excluded_and_null_safe(self, spark):
        df = spark.createDataFrame([(0, "a\n\n  \na"), (1, None)],
                                   "doc_id long, text string")
        out = {r["id"]: r for r in intra_doc_dup_stats(df).collect()}
        assert out[0]["n_lines"] == 2 and out[0]["n_distinct_lines"] == 1
        assert out[1]["n_lines"] == 0 and out[1]["line_chars"] == 0

    def test_zero_shuffle_plan(self, spark):
        df = _docs(spark, [(0, "x\nx")])
        assert "Exchange" not in _plan(intra_doc_dup_stats(df))


class TestNullText:
    """Null text is treated as empty: the document survives each transform
    with an empty clean_text instead of vanishing or emitting null fields."""

    def test_null_survives_all_transforms(self, spark):
        df = spark.createDataFrame([(0, None), (1, "x")],
                                   "doc_id long, text string")
        rem = {r["id"]: r for r in
               remove_duplicate_lines(df, min_docs=2).collect()}
        assert rem[0]["clean_text"] == "" and rem[0]["n_removed"] == 0
        c4 = {r["id"]: r for r in c4_clean(df).collect()}
        assert c4[0]["clean_text"] == "" and c4[0]["c4_pass"] is False
        hosted = spark.createDataFrame([(0, "a", None)],
                                       "doc_id long, host string, text string")
        st = strip_template_lines(hosted, host_col="host").collect()
        assert st[0]["clean_text"] == "" and st[0]["n_removed"] == 0
        assert unigram_freq_score(df).count() == 1
