"""Deduplication queries: exact, n-gram, MinHash, SimHash and incremental
near-dup pairs, components and keep-best, decontamination, substring
spans and their winnowing fingerprints, URL and normalized-text dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_system_spark.operators.components import (
    connected_components, keep_best)
from ocr_system_spark.operators.decontaminate import (
    contamination_hits, decontaminate_bloom)
from ocr_system_spark.operators.dedup import (
    MINHASH_BANDS, MINHASH_K, MINHASH_ROWS, _minhash_params as _mhp,
    exact_dedup_groups, incremental_minhash_pairs, minhash_lsh_pairs,
    minhash_signatures, ngram_jaccard_pairs, simhash_pairs,
    update_minhash_index, with_near_dup_copies)
from ocr_system_spark.operators.normalize import normalize_text
from ocr_system_spark.operators.spans import (
    dup_span_doc_mass, duplicate_spans, remove_duplicate_spans)
from ocr_system_spark.operators.textstats import (
    winnow_fingerprints, with_gopher_quality, with_token_counts)
from ocr_system_spark.operators.urls import url_dedup_groups
from ocr_system_spark.persist import persist
from ocr_system_spark.sources import tables

from ._shared import STOPS_SQL, Builder


def queries() -> dict[str, Builder]:
    q: dict[str, Builder] = {}

    def q_dedup_exact(spark, sf_dir):
        """Exact dedup over documents ∪ an exact copy of itself."""
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        dup = d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        return exact_dedup_groups(d.union(dup), "doc_id")

    q["dedup_exact"] = q_dedup_exact

    def q_dedup_ngram_jaccard(spark, sf_dir):
        """Exact 3-gram Jaccard pairs (lang-blocked) over documents ∪ a
        perturbed near-dup copy (first word dropped)."""
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
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        both = with_near_dup_copies(d, "doc_id")
        return simhash_pairs(both, "doc_id")

    q["dedup_simhash"] = q_dedup_simhash

    def q_winnow_fingerprint(spark, sf_dir):
        """Winnowing fingerprints as scalar (doc_id, pos, fp) rows. The
        k-gram hash is a codepoint polynomial mod 2^31-1, so the DuckDB
        oracle recomputes the whole algorithm independently in SQL."""
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return winnow_fingerprints(d, id_col="doc_id", text_col="text")

    q["winnow_fingerprint"] = q_winnow_fingerprint

    def q_dedup_components(spark, sf_dir):
        """Connected components over the exact-Jaccard near-dup pair graph —
        the cluster-then-keep-one step of a production dedup pipeline.
        Every doc (incl. singletons) gets comp = min doc id reachable."""
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
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        words = F.split(F.trim(F.col("text")), r"\s+")
        bench = d.filter(F.col("doc_id") % 10 == 0).select(
            F.array_join(F.slice(words, 3, 10), " ").alias("text"))
        kept = decontaminate_bloom(d, bench, n=5, fpp=0.05)
        return kept.select("doc_id")

    q["decontaminate_bloom"] = q_decontaminate_bloom

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
        return duplicate_spans(_docs_with_planted_passages(spark, sf_dir))

    q["dup_spans"] = q_dup_spans

    def q_dup_span_mass(spark, sf_dir):
        """Per-document duplicate-span mass (integer counts) — the
        corpus-wide curation signal derived from the same fingerprints."""
        return dup_span_doc_mass(_docs_with_planted_passages(spark, sf_dir))

    q["dup_span_mass"] = q_dup_span_mass

    def q_dup_span_removal(spark, sf_dir):
        """The curation transform: cut every cross-document duplicated
        span (merged winnow-match intervals) out of the normalized text.
        Pure JVM gaps-and-islands + string surgery; the oracle replays
        normalization, fingerprints, guard, matches, interval merge, and
        the substring reassembly — byte-identical clean_text."""
        return remove_duplicate_spans(_docs_with_planted_passages(spark, sf_dir))

    q["dup_span_removal"] = q_dup_span_removal

    def q_url_canon_dedup(spark, sf_dir):
        """URL canonicalization + alias-group dedup over deterministic
        messy URLs (case/default-port/tracking-param/trailing-slash/
        fragment variants built from doc_id). Pure JVM expression chain;
        the oracle replays every canonicalization step in SQL."""
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

    def q_dedup_incremental(spark, sf_dir):
        """Incremental MinHash dedup: a new batch (perturbed copies of
        every 5th doc) deduped AGAINST the persisted signature index of the
        full corpus — band-bucket join + exact verify, no corpus re-shingle.
        Oracle: exact Jaccard between the two document sets."""
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

    def q_normalize_dedup(spark, sf_dir):
        """Normalization's payoff composed end-to-end: +100000 copies of
        every 10th doc carry DECOMPOSED accents (e+COMBINING ACUTE), so
        raw md5 dedup misses them; after NFC normalization the exact
        dedup groups them with their originals.  Output: per-group
        (keep_id, n_copies) for the groups with duplicates."""
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

    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

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

    # connected components: min reachable id via a recursive CTE over the
    # same Jaccard pair graph the Spark query builds (near-dup components
    # are tiny, so the transitive walk cannot explode at oracle scale);
    # curation_pipeline composes the same walk
    _walk_ctes = f"""
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
            SELECT w.id, s.v FROM walk w JOIN sym s ON s.u = w.reach)"""
    o["dedup_components"] = _walk_ctes + """
        SELECT id, min(reach) AS comp FROM walk GROUP BY id
    """

    o["curation_pipeline"] = _walk_ctes + f""",
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
                       CAST(len(list_filter(w, x -> list_contains([{STOPS_SQL}],
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
    # Both share the corpus and benchmark shingle sets.
    _decon_ctes = r"""
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
                  FROM bw WHERE len(v) >= 5)),"""
    o["decontaminate_bloom"] = _decon_ctes + r"""
        dirty AS (
            SELECT DISTINCT id
            FROM (SELECT id, unnest(s) AS s FROM csh) JOIN bsh USING (s))
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT id FROM dirty)
    """
    o["decontaminate"] = _decon_ctes + r"""
        hits AS (
            SELECT id, unnest(s) AS s FROM csh)
        SELECT id, count(*) AS n_hits
        FROM hits JOIN bsh USING (s)
        GROUP BY id
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
    return o


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
