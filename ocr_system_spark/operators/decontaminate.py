"""Benchmark decontamination — remove training documents that leak
evaluation data.

The standard LLM-training hygiene step (GPT-3 appendix C, PaLM, Llama):
a training document is CONTAMINATED when it shares at least one word
n-gram with any document of an evaluation benchmark. The reference
pipeline has no analog (it never trains anything); this operator is part
of the training-data tier this engine adds (SURVEY §2 extension, same
family as dedup/curation).

Spark shape — the whole point at 100 TB: the benchmark side is SMALL by
definition (eval suites are thousands of rows, not billions), so its
distinct shingle-hash set is BROADCAST and the contamination flag is a
map-side broadcast semi-join on a 64-bit hash — the corpus is touched in
ONE scan with NO shuffle for the filter form; the per-doc hit-count form
adds exactly one doc-keyed aggregation. Shingles travel as
md5-derived 64-bit hashes (md5_number_lower — DuckDB-replayable) — the
same kernel and hash as the dedup family, so a corpus already signed for
dedup reuses its arrays — and equality of hash sets equals equality of
string sets w.h.p. (collisions ~n²/2^64). Each side's kernel runs once
per row, in one ``map_rows`` pass that drops rows with no shingle.

``n`` defaults to 8: long enough that natural re-use of common phrasing
does not flag (the published pipelines use 8–13), short enough that a
quoted benchmark item cannot hide behind minor truncation.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._rowmap import map_rows
from .dedup import _shingle_rows

__all__ = ["contamination_hits", "decontaminate", "decontaminate_bloom"]


def _bench_shingles(benchmark: DataFrame, text_col: str, n: int) -> DataFrame:
    return (
        _shingle_rows(benchmark.select(text_col), text_col, n)
        .select(F.explode("sh_hashes").alias("h"))
        .distinct()
    )


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """(id, n_hits): corpus docs sharing ≥ 1 word-``n``-gram with the
    benchmark, with the count of DISTINCT shared shingles (the audit
    relation — thresholding/reporting happens downstream as plain SQL).
    Plan: corpus-side explode → broadcast hash semi-join per shingle →
    one groupBy(id); the only shuffle is the final doc-keyed count."""
    c = (
        _shingle_rows(corpus.select(id_col, text_col), text_col, n)
        .select(F.col(id_col).alias("id"), F.explode("sh_hashes").alias("h"))
    )
    # bound: the benchmark's distinct shingles (test sets, not corpora)
    hits = c.join(F.broadcast(_bench_shingles(benchmark, bench_text_col, n)),
                  "h", "left_semi")
    return hits.groupBy("id").agg(F.count(F.lit(1)).alias("n_hits"))


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """The corpus minus contaminated documents: broadcast SEMI join of the
    exploded shingle hashes finds dirty ids (map-side against the
    broadcast benchmark set), then one ANTI join removes them — the
    corpus text is scanned once, and the only corpus-sized shuffle is the
    id-keyed anti join (at 10^12 docs, prune it further by running
    ``contamination_hits`` once and reusing its tiny dirty-id relation
    across every downstream consumer)."""
    dirty_ids = (
        _shingle_rows(corpus.select(id_col, text_col), text_col, n)
        .select(F.col(id_col), F.explode("sh_hashes").alias("h"))
        # bound: the benchmark's distinct shingles (test sets, not corpora)
        .join(F.broadcast(_bench_shingles(benchmark, bench_text_col, n)),
              "h", "left_semi")
        .select(id_col).distinct()
    )
    return corpus.join(dirty_ids, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Bloom-gated variant: when the benchmark shingle set outgrows a broadcast
# ---------------------------------------------------------------------------

_BLOOM_MIX = 0x9E3779B97F4A7C15  # golden-ratio odd constant (splitmix64)


def _bloom_params(n_items: int, fpp: float) -> tuple[int, int]:
    """(m_bits, k) for a target false-positive rate — the textbook
    m = -n ln p / (ln 2)², k = (m/n) ln 2, floored at one byte / one
    probe."""
    import math
    n = max(n_items, 1)
    m = max(int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))), 8)
    # whole bytes: the probe derives m from the bit-array length, so a
    # ragged final byte would make build and probe disagree on m
    m = (m + 63) // 64 * 64
    k = max(int(round(m / n * math.log(2))), 1)
    return m, k


def _bloom_positions(h: "np.ndarray", i: int, m: int) -> "np.ndarray":
    """i-th probe position per element: double hashing
    g_i(x) = (x + i·h2(x)) mod m with h2 = splitmix-mixed x forced odd —
    k independent-enough probes from ONE stored 64-bit hash."""
    h2 = (h * np.uint64(_BLOOM_MIX)) | np.uint64(1)
    return (h + np.uint64(i) * h2) % np.uint64(m)


def _bloom_build(hashes: "np.ndarray", m: int, k: int) -> "np.ndarray":
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    h = hashes.astype(np.uint64, copy=False)
    for i in range(k):
        pos = _bloom_positions(h, i, m)
        np.bitwise_or.at(bits, (pos >> np.uint64(3)).astype(np.int64),
                         np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
    return bits


def _bloom_probe(hashes: "np.ndarray", bits: "np.ndarray", k: int) -> "np.ndarray":
    m = len(bits) * 8
    h = hashes.astype(np.uint64, copy=False)
    ok = np.ones(len(h), dtype=bool)
    for i in range(k):
        pos = _bloom_positions(h, i, m)
        byte = bits[(pos >> np.uint64(3)).astype(np.int64)]
        ok &= (byte >> (pos & np.uint64(7)).astype(np.uint8)) & 1 > 0
    return ok


def decontaminate_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
    fpp: float = 0.01,
) -> DataFrame:
    """``decontaminate`` with a BLOOM pre-gate — identical output, built
    for the regime where the benchmark's raw shingle-hash set outgrows a
    comfortable broadcast (10⁹ shingles = 8 GB of longs, but only
    ~1.2 GB of Bloom bits at 1% fpp).

    Three stages, none of which broadcasts the raw set:
    1. Build the filter from the benchmark's distinct shingle hashes
       (driver-side here — eval suites are bounded; at the extreme end
       build it as an OR-tree over partitions, the ``stat.bloomFilter``
       shape) and broadcast the BIT ARRAY.
    2. One corpus scan probes every doc's existing ``sh_hashes`` array
       against the bits (vectorized numpy over Arrow batches — a doc
       survives untouched unless SOME shingle probes positive). False
       positives pass, false negatives cannot (Bloom guarantee), so the
       gate only shrinks the candidate set — at fpp=0.01 to ~1% of clean
       docs plus the truly dirty.
    3. Exact verify of the candidates only: keyed semi-join of their
       exploded shingles against the benchmark relation (candidate side
       is now tiny, so Catalyst/AQE picks the cheap side), then the same
       id-keyed anti join as ``decontaminate``.

    Bit-identical to ``decontaminate`` by construction — the driver
    query reuses its oracle."""
    bench_sh = _bench_shingles(benchmark, bench_text_col, n)
    bench_arr = np.array([r["h"] for r in bench_sh.collect()],
                         dtype=np.int64).view(np.uint64)
    m, k = _bloom_params(len(bench_arr), fpp)
    bits = _bloom_build(bench_arr, m, k)
    bc = corpus.sparkSession.sparkContext.broadcast((bits, k))

    def bloom_any(batch):
        """The rows with a shingle probing positive: a segmented ANY over
        the flat hashes. ``_shingle_rows`` leaves no row without one."""
        bits_, k_ = bc.value
        sh = batch.column("sh_hashes")
        offs = sh.offsets.to_numpy()
        hit = _bloom_probe(sh.flatten().to_numpy().view(np.uint64), bits_, k_)
        any_hit = np.bitwise_or.reduceat(hit, offs[:-1] - offs[0])
        return np.flatnonzero(any_hit), []

    signed = _shingle_rows(corpus.select(id_col, text_col), text_col, n)
    cand = map_rows(signed, bloom_any, [])
    dirty_ids = (
        cand.select(F.col(id_col), F.explode("sh_hashes").alias("h"))
        .join(bench_sh, "h", "left_semi")
        .select(id_col).distinct()
    )
    return corpus.join(dirty_ids, id_col, "left_anti")
