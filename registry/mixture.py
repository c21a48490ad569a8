"""Data-mixture queries: sampling, splits and budgets, the quality model
and its tiers, the n-gram LMs, DSIR weights and resampling, and BPE
training and encoding."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_system_spark.functions.tokens import lower_ascii_tokens
from ocr_system_spark.operators.bpe import bpe_encode, bpe_train
from ocr_system_spark.operators.dsir import dsir_logweight, dsir_resample
from ocr_system_spark.operators.lm import bigram_lm_score, stupid_backoff_score
from ocr_system_spark.operators.quality_model import (
    hashed_linear_score, host_quality_blocklist, linear_score, quality_tiers,
    quality_tiers_bucketed)
from ocr_system_spark.operators.sampling import (
    budget_sample, cap_per_group, mixture_sample, training_order, with_split)
from ocr_system_spark.sources import tables

from ._shared import WEIGHT_SQL, Builder


def queries() -> dict[str, Builder]:
    q: dict[str, Builder] = {}

    def q_host_cap(spark, sf_dir):
        """Per-host document cap (the anti-dominance curation step): at
        most 30 docs per synthetic host (doc_id % 7), chosen by the
        deterministic md5 lottery. Output: every kept (doc_id, host)."""
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
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "lang")
        return (with_split(d, holdout_sixteenths=2)
                .groupBy("lang", "split")
                .agg(F.count(F.lit(1)).alias("n")))

    q["hash_split"] = q_hash_split

    def q_bpe_train(spark, sf_dir):
        """BPE merge training (8 merges): corpus→vocabulary aggregated
        distributedly, then the classic Sennrich merge loop on the
        driver with integer/string-exact argmax (count DESC, lhs ASC,
        rhs ASC).  The oracle replays all 8 training iterations in SQL."""
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
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return bpe_encode(d, bpe_train(d, n_merges=8))

    q["bpe_encode"] = q_bpe_encode
    # declared query names are fixed; one encoder serves both
    q["bpe_encode_ranked"] = q_bpe_encode

    def q_quality_model_score(spark, sf_dir):
        """Model-based quality filter plumbing (CCNet/fastText stage):
        per-doc linear bag-of-words score with the deterministic md5 stub
        weight — zero joins, one per-doc aggregation."""
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return hashed_linear_score(d)

    q["quality_model_score"] = q_quality_model_score

    def q_quality_model_table_score(spark, sf_dir):
        """The trained-weight-table scoring path: (term, weight) relation
        (deterministic stand-in: weight = length(term) - 4) joined to
        per-doc term frequencies (Spark broadcasts the table at these
        sizes); OOV tokens default to 0."""
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

    def q_host_split(spark, sf_dir):
        """HOST-DISJOINT train/holdout split (leakage prevention): the
        split key is the host, not the document, so near-duplicate pages
        from one site can never straddle the boundary — the eval-
        contamination guard real pipelines pair with `hash_split`.
        Zero-shuffle assignment; verified via per-split doc/host counts."""
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
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        return quality_tiers_bucketed(hashed_linear_score(d), n_tiers=4)

    q["quality_tiers_bucketed"] = q_quality_tiers_bucketed

    def q_tier_mixture(spark, sf_dir):
        """Data MIXING: per-tier deterministic sampling rates over the
        quality tiers (tier 1 kept at 2/16, tier 2 at 8/16, tiers 3-4
        fully) — the md5-lottery rate filter composed on the tier
        relation; zero additional shuffle. The tiers come from the
        bucketed form (bit-identical to the ntile window), so no task
        holds the whole corpus."""
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        tiers = quality_tiers_bucketed(hashed_linear_score(d), n_tiers=4)
        kept = mixture_sample(tiers, group_col="tier",
                              rate_sixteenths={1: 2, 2: 8, 3: 16, 4: 16},
                              id_col="id")
        return kept.groupBy("tier").agg(
            F.count(F.lit(1)).alias("n_kept"))

    q["tier_mixture"] = q_tier_mixture

    def _holdout_train(spark, sf_dir):
        """(holdout, train) documents of the md5-lottery split with 2/16
        held out: the models below fit on train and score holdout."""
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        s = with_split(d, holdout_sixteenths=2)
        return (s.filter(F.col("split") == "holdout"),
                s.filter(F.col("split") == "train"))

    def q_lm_perplexity(spark, sf_dir):
        """CCNet-shaped LM quality scoring: an add-one bigram LM trained
        on the md5-lottery 'train' split scores the 'holdout' split.
        Each bigram's log term is quantized to integer micros BEFORE the
        per-doc sum, so the log-likelihood is integer-exact and
        order-independent (operators/lm.py).  The oracle replays split,
        training, and scoring end-to-end in SQL."""
        return bigram_lm_score(*_holdout_train(spark, sf_dir))

    q["lm_perplexity"] = q_lm_perplexity

    def q_dsir_weights(spark, sf_dir):
        """DSIR data selection (Xie et al. 2023): importance log-weights
        of the 'holdout' split under hashed unigram+bigram models fitted
        on the 'train' split (target) vs the holdout itself (raw).
        Per-bucket log-likelihood ratios are quantized to integer micros
        before the tf-weighted sum, so weights are integer-exact
        (operators/dsir.py).  The oracle replays split, feature hashing
        (md5 hex-digit decode), both models, and scoring end-to-end."""
        return dsir_logweight(*_holdout_train(spark, sf_dir))

    q["dsir_weights"] = q_dsir_weights

    def q_dsir_resample(spark, sf_dir):
        """DSIR Gumbel-top-k selection: deterministic md5-derived Gumbel
        draws (integer micros) added to the importance log-weights, top
        50 keys kept — sampling-without-replacement ∝ exp(weight),
        reproducible across engines (operators/dsir.py).  The plan is a
        TakeOrderedAndProject, never a full sort."""
        w = dsir_logweight(*_holdout_train(spark, sf_dir))
        return dsir_resample(w, k=50)

    q["dsir_resample"] = q_dsir_resample

    def q_perplexity_tiers(spark, sf_dir):
        """CCNet's head/middle/tail bucketing: per-doc mean bigram NLL
        in integer micros (exact positive integer division — Spark `div`
        and DuckDB `//` agree on non-negative operands) binned into 3
        equal-count tiers by the scale-safe two-pass binning (tier 1 =
        lowest NLL = head)."""
        scored = bigram_lm_score(*_holdout_train(spark, sf_dir))
        nll = scored.select(
            "id", F.expr("(-logprob_micro) div n_bigrams").alias("score"))
        return quality_tiers_bucketed(nll, n_tiers=3)

    q["perplexity_tiers"] = q_perplexity_tiers

    def q_token_budget_mixture(spark, sf_dir):
        """Token-budget data mixing ("k tokens of lang X, m of lang Y"):
        per-lang char budgets consumed in md5-lottery order — en/de
        budget-bound, zh zeroed out, fr effectively unlimited, es on the
        None (no-limit) default.  The operator is the bucketed
        three-step (no corpus-sized prefix-sum window); the oracle
        states the NAIVE one-window cumulative definition — exact
        equivalence is the point (operators/sampling.py)."""
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
        d = tables.load(spark, sf_dir, "documents").select("doc_id")
        return training_order(d, n_shards=7)

    q["training_order"] = q_training_order

    def q_host_blocklist(spark, sf_dir):
        """Host-level curation (RefinedWeb/C4 site blocklist): per-doc
        hashed linear quality scores rolled up to a synthetic host
        (doc_id % 17); a host is blocked when its MEAN score < -5,
        decided by integer cross-multiplication (no float mean).  One
        map-side-combined host agg (operators/quality_model.py)."""
        d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        scored = hashed_linear_score(d)
        hosted = scored.select(
            F.concat(F.lit("h"), (F.col("id") % 17).cast("string"))
            .alias("host"), "score")
        return host_quality_blocklist(hosted, threshold_num=-5,
                                      threshold_den=1)

    q["host_blocklist"] = q_host_blocklist

    def q_lm_backoff(spark, sf_dir):
        """Stupid Backoff trigram scoring (Brants et al. 2007 — the
        count-ratio backoff designed for MapReduce-scale LMs): the
        md5-lottery train split is the model, the holdout split is
        scored; per trigram type c123/c12 → 0.4·c23/c2 → 0.4²·add-one
        unigram floor, each log term quantized to integer micros before
        the tf-weighted sum (operators/lm.py).  The oracle replays
        split + all three model relations + the CASE chain verbatim."""
        return stupid_backoff_score(*_holdout_train(spark, sf_dir))

    q["lm_backoff"] = q_lm_backoff

    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

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

    # each document's tokens with their hashed linear weight
    _weighted_tokens = f"""
        WITH tok AS (
            SELECT doc_id AS id,
                   unnest(regexp_extract_all(
                       translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                       'abcdefghijklmnopqrstuvwxyz'),
                       '[^\t\n\f\r ]+')) AS term
            FROM documents),
        wt AS (SELECT id, CAST({WEIGHT_SQL} AS BIGINT) AS w FROM tok)"""
    o["quality_model_score"] = _weighted_tokens + """
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

    o["quality_tiers"] = _weighted_tokens + """,
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

    o["tier_mixture"] = _weighted_tokens + """,
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
    # each document's tokens and its md5-lottery split (2/16 holdout)
    _split_tokens = """
        WITH base AS (
            SELECT doc_id AS id,
                   regexp_extract_all(
                       translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                       'abcdefghijklmnopqrstuvwxyz'),
                       '[^\t\n\f\r ]+') AS toks,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2'
                        THEN 'holdout' ELSE 'train' END AS split
            FROM documents),"""
    o["lm_perplexity"] = _split_tokens + """
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
    o["dsir_weights"] = _split_tokens + """
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

    o["lm_backoff"] = _split_tokens + """
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

    o["host_blocklist"] = _weighted_tokens + """,
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
