"""Per-document text statistics: token counts, quality features, langid,
repetition and Gopher gates, top terms, chunking, packing and Unicode
normalization."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_system_spark.functions.textstats import _LANG_PROFILES, _LANGS
from ocr_system_spark.operators.chunking import chunk_documents, pack_chunks
from ocr_system_spark.operators.normalize import normalize_text
from ocr_system_spark.operators.textstats import (
    top_terms_by_tf, with_gopher_quality, with_langid, with_quality,
    with_repetition_stats, with_token_counts)
from ocr_system_spark.sources import tables

from ._shared import STOPS_SQL, Builder


def queries() -> dict[str, Builder]:
    q: dict[str, Builder] = {}

    def q_token_counts(spark, sf_dir):
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return with_token_counts(d).select("doc_id", "ws_tokens", "bpeish_tokens")

    q["token_counts"] = q_token_counts

    def q_quality_features(spark, sf_dir):
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return with_quality(d).select(
            "doc_id", "n_chars", "n_words", "n_stopwords",
            "punct_ratio", "upper_ratio")

    q["quality_features"] = q_quality_features

    def q_langid(spark, sf_dir):
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return with_langid(d).select("doc_id", "lang_pred")

    q["langid"] = q_langid

    def q_repetition_stats(spark, sf_dir):
        """Gopher-style duplicate word-bigram counts (integer totals)."""
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return with_repetition_stats(d).select(
            "doc_id", "total_bigrams", "distinct_bigrams")

    q["repetition_stats"] = q_repetition_stats

    def q_gopher_quality(spark, sf_dir):
        """MassiveText/Gopher document-quality gates (integer-stable)."""
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return with_gopher_quality(d, min_words=30).select(
            "doc_id", "n_words", "n_word_chars", "n_stop_hits", "gopher_pass")

    q["gopher_quality"] = q_gopher_quality

    def q_doc_chunks(spark, sf_dir):
        """Token-window chunking (16-token windows, stride 12) — the
        curation→tokenization bridge. Pure JVM sequence/slice expression
        tree; the oracle replays windows with DuckDB list slicing."""
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return chunk_documents(d, chunk_tokens=16, stride=12)

    q["doc_chunks"] = q_doc_chunks

    def q_pack_chunks(spark, sf_dir):
        """Sequence packing over the chunk relation: 16-token chunks laid
        into 64-token packs, shard-parallel (id % 8). Pure window+floor
        arithmetic; the oracle replays chunking, the per-shard running
        token count, and the grid cut."""
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        chunks = chunk_documents(d, chunk_tokens=16, stride=12)
        return pack_chunks(chunks, budget=64, n_shards=8)

    q["pack_chunks"] = q_pack_chunks

    def q_top_terms(spark, sf_dir):
        """Per-doc top-3 salient terms, integer-ranked (tf desc, corpus
        doc-frequency asc, term asc) — float-free tf-idf ordering."""
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return top_terms_by_tf(d, k=3)

    q["top_terms"] = q_top_terms

    def q_normalize_text(spark, sf_dir):
        """Unicode text normalization (ftfy/CCNet-style pre-pass): CRLF,
        zero-width chars, and decomposed codepoints planted per doc; the
        oracle replays the replace chain + DuckDB's nfc_normalize."""
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

    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

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
                   CAST(len(list_filter(w, x -> list_contains([{STOPS_SQL}],
                        lower(x)))) AS BIGINT) AS n_stop_hits
            FROM (SELECT doc_id,
                         regexp_extract_all(text, '[^\t\n\f\r ]+') AS w
                  FROM documents))
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
    return o
