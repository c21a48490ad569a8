"""Line-level curation (CCNet/C4-style) over lined documents built from
``documents`` by one construction that the oracles replay as one CTE
chain: duplicated lines, paragraphs, host templates, C4 filters."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_system_spark.operators.lines import (
    c4_clean, hot_lines, intra_doc_dup_stats, remove_duplicate_lines,
    strip_template_lines, unigram_freq_score)
from ocr_system_spark.operators.normalize import normalize_text
from ocr_system_spark.sources import tables

from ._shared import Builder


def queries() -> dict[str, Builder]:
    q: dict[str, Builder] = {}

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
        return hot_lines(_lined_documents(spark, sf_dir), min_docs=10)

    q["line_hot"] = q_line_hot

    def q_line_dedup(spark, sf_dir):
        """Duplicated-line REMOVAL: rebuild every document without the
        lines that occur in >= 10 distinct documents (boilerplate pool
        lines go; content lines stay).  The hot set (bounded by
        total_lines/min_docs) marks lines in a JVM join that Spark plans
        as a broadcast at these sizes, so the corpus shuffles once for
        the frequency agg and once for the per-doc rebuild."""
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
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return unigram_freq_score(d)

    q["unigram_freq"] = q_unigram_freq

    def q_intra_doc_dup(spark, sf_dir):
        """WITHIN-document duplicate-line stats (Gopher dup-line-fraction
        family) over the lined documents — the boilerplate pool repeats
        inside every long doc.  Row-local, zero-shuffle."""
        return intra_doc_dup_stats(_lined_documents(spark, sf_dir))

    q["intra_doc_dup"] = q_intra_doc_dup

    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

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
    return o
