"""BPE (byte-pair-encoding) merge training and encoding.

The tokenizer-training step of an LLM data pipeline (public algorithm:
Sennrich, Haddow & Birch 2016, "Neural Machine Translation of Rare Words
with Subword Units").  The reference repo stops at field extraction; this
closes the curation→tokenizer gap the brief's training-data surface needs.

Training (``bpe_train``, classic word-type-weighted BPE):
  1. vocabulary = (term, count) from the corpus — the ONLY corpus-sized
     step, one distributed hash aggregation (``word_vocabulary``).
  2. the vocabulary is collected (bounded by ``max_types``) and the
     greedy merge loop runs on the driver: each term is its characters
     plus a final end-of-word marker U+001E (record separator); each step
     picks the best adjacent pair — (count DESC, left ASC, right ASC), a
     deterministic integer/string ordering — and merges every occurrence
     in one leftmost-disjoint pass, so "abab" and "aaaa" merge fully.
     Terms containing U+001E or U+001F are dropped, so the marker can
     NEVER be assembled by merging real token characters (a printable
     marker like ``</w>`` is constructible from an HTML-ish corpus via
     ``<``+``/``+``w``+``>`` merges, silently conflating word-interior
     content with word boundaries).

Encoding (``bpe_encode``) applies the merge table to each token in learn
order, one leftmost-disjoint pass per merge, in an Arrow kernel.

SQL replay layout.  The oracles in ``__spark_entry__.oracle_sql()``
replay training and encoding with literal string ``replace``: a symbol
sequence is ONE string with the unit separator U+001F — ONE separator at
each end, TWO between adjacent symbols ("\\x1f c1 \\x1f\\x1f c2
\\x1f\\x1f \\x1e \\x1f") — and merging (l, r) is one replace of
"\\x1f l \\x1f\\x1f r \\x1f" with "\\x1f lr \\x1f".  ``replace`` is
leftmost non-overlapping in SQL engines and Python alike; with the
double-separator layout each match consumes only the FIRST of the two
separators bounding the next occurrence, so consecutive occurrences all
merge — byte-for-byte the one-pass merge above (property-checked in
tests/test_round4_bpe.py; a single-separator layout silently under-merges
reduplicated words).
"""

from __future__ import annotations

import re
from bisect import bisect_left

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_system_spark.functions.tokens import (
    ASCII_LOWER as _LOWER,
    ASCII_UPPER as _UPPER,
    TOKEN_CLASS as _TOKEN_CLASS,
    lower_ascii_tokens,
)

from ._rowmap import map_rows

__all__ = ["bpe_train", "bpe_encode", "word_vocabulary"]

SEP = "\x1f"
EOW = "\x1e"


def word_vocabulary(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(term, cnt) — ASCII-lowercased pinned-alphabet tokens with corpus
    occurrence counts.  The one corpus-sized aggregation of BPE training.
    Terms containing the separator or end-of-word control characters are
    dropped (they would forge sequence structure)."""
    return (
        df.select(F.explode(lower_ascii_tokens(F.col(text_col)))
                  .alias("term"))
        .filter(~F.col("term").contains(SEP) & ~F.col("term").contains(EOW))
        .groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bpe_train_from_vocab(vocab: list, n_merges: int
                          ) -> list[tuple[int, str, str, int]]:
    """Classic incremental-update BPE over a collected (term, cnt)
    vocabulary: pair-count dict + lazy-deletion heap, per-merge work
    proportional to the characters of AFFECTED words only.  Argmax is
    (count DESC, lhs ASC, rhs ASC) and each merge is one leftmost-
    disjoint pass — the semantics the SQL replace replay reproduces."""
    import heapq
    from collections import defaultdict

    words: list[tuple[list, int]] = [
        (list(term) + [EOW], int(cnt)) for term, cnt in vocab]
    pc: dict = defaultdict(int)
    occ: dict = defaultdict(set)
    for wi, (syms, cnt) in enumerate(words):
        for a, b in zip(syms, syms[1:]):
            pc[(a, b)] += cnt
            occ[(a, b)].add(wi)
    heap = [(-c, l, r) for (l, r), c in pc.items()]
    heapq.heapify(heap)
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        # lazy deletion: stale heap entries (count changed since push)
        # are dropped until the top matches the live count
        while heap:
            negc, l, r = heap[0]
            if pc.get((l, r), 0) == -negc and -negc > 0:
                break
            heapq.heappop(heap)
        if not heap:
            break
        negc, l, r = heapq.heappop(heap)
        cnt0 = -negc
        merges.append((step, l, r, cnt0))
        new_sym = l + r
        touched: set = set()
        for wi in list(occ.get((l, r), ())):
            syms, wc = words[wi]
            out: list = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(new_sym)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            if len(out) == len(syms):   # stale occ entry — pair gone
                continue
            # exact delta: subtract every old adjacency, add every new
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] -= wc
                touched.add((a, b))
            for a, b in zip(out, out[1:]):
                pc[(a, b)] += wc
                occ[(a, b)].add(wi)
                touched.add((a, b))
            words[wi] = (out, wc)
        for p in touched:
            c = pc.get(p, 0)
            if c > 0:
                heapq.heappush(heap, (-c, p[0], p[1]))
            else:
                pc.pop(p, None)
                occ.pop(p, None)
    return merges


def bpe_train(df: DataFrame, n_merges: int,
              text_col: str = "text",
              max_types: int = 50_000_000
              ) -> list[tuple[int, str, str, int]]:
    """Learn up to ``n_merges`` BPE merges from the corpus.  Returns the
    merge table as a (bounded, n_merges-row) driver-side list of
    (merge_id, lhs, rhs, pair_count) — 1-based merge_id in learn order;
    fewer rows if the vocabulary is fully merged first.

    The corpus is aggregated to its (term, cnt) vocabulary distributedly
    — the only corpus-sized step — then that bounded relation is
    collected and the merge loop runs on the driver with incremental
    pair-count updates.  Merge selection is inherently sequential greedy
    over a few-hundred-MB state; a Spark round per merge would cost two
    whole-cluster job latencies each (hours for a 32k vocabulary) versus
    seconds here.  This is how public tokenizer pipelines train
    (subword-nmt/HuggingFace run on a collected corpus or vocabulary);
    Spark's job is the corpus scan, not the merge loop.

    ``max_types`` guards the collect: a vocabulary beyond it raises
    instead of OOMing the driver (at web scale a 100M-type vocabulary is
    ~GBs — raise the bound on a big driver, or pre-filter with a
    min-count threshold, the standard practice)."""
    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    vocab_df = word_vocabulary(df, text_col)
    n_types = vocab_df.count()
    if n_types > max_types:
        raise ValueError(
            f"vocabulary has {n_types} types > max_types={max_types}; "
            f"raise the bound or pre-filter rare terms")
    rows = vocab_df.collect()
    return _bpe_train_from_vocab([(r["term"], r["cnt"]) for r in rows],
                                 n_merges)


def bpe_encode(df: DataFrame, merges: list[tuple[int, str, str, int]],
               id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Apply a learned merge table to every document: per-doc exact token
    and subword counts — (id, n_tokens, n_subwords).  Documents with no
    token (NULL or blank text) are dropped inside the kernel, so no
    filter sits over its output.

    Semantics: SEQUENTIAL merge application — one leftmost-disjoint pass
    per merge, in learn order, word-internal and end-of-word-bounded —
    exactly the SQL oracle's ``replace`` chain.  (The rank-priority
    re-scan encoder — subword-nmt ``apply_bpe``, which re-checks earlier
    merges after later ones create new adjacencies — can differ on words
    where a later merge recreates an earlier pair.)

    Cost is O(word length) per unique word, independent of the merge
    table size: between merge applications a word is static, so the next
    merge the sequential pass applies is exactly the present pair with
    the minimum rank ≥ a cursor; apply it, advance the cursor past its
    rank, repeat.  A pair can hold SEVERAL ranks (training may re-select
    a pair whose adjacency a later concatenation re-creates); the
    per-pair sorted rank list + bisect keeps that case sequential-exact.
    The merge table ships once per worker; each Arrow batch keeps a
    per-batch word cache.  Row-local, no shuffle."""
    ranks: dict[tuple[str, str], list[int]] = {}
    pairs_at: list[tuple[str, str]] = []
    for pos, (_, l, r, _) in enumerate(merges):
        ranks.setdefault((l, r), []).append(pos)
        pairs_at.append((l, r))

    tok_re = re.compile(_TOKEN_CLASS)
    trans = str.maketrans(_UPPER, _LOWER)

    def kernel(batch):
        cache: dict[str, int] = {}

        def word_syms(w: str) -> int:
            n = cache.get(w)
            if n is not None:
                return n
            syms: list[str] = list(w) + [EOW]
            cursor = 0
            while len(syms) > 1:
                best = -1
                for i in range(len(syms) - 1):
                    lst = ranks.get((syms[i], syms[i + 1]))
                    if lst:
                        j = bisect_left(lst, cursor)
                        if j < len(lst) and (best < 0 or lst[j] < best):
                            best = lst[j]
                if best < 0:
                    break
                l, r = pairs_at[best]
                out: list[str] = []
                i, k = 0, len(syms)
                while i < k:
                    if (i + 1 < k and syms[i] == l and syms[i + 1] == r):
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
                cursor = best + 1
            cache[w] = len(syms)
            return len(syms)

        rows, nt, ns = [], [], []
        for i, t in enumerate(batch.column(text_col).to_pylist()):
            words = [w for w in tok_re.findall((t or "").translate(trans))
                     if SEP not in w and EOW not in w]
            if words:
                rows.append(i)
                nt.append(len(words))
                ns.append(sum(word_syms(w) for w in words))
        return rows, [nt, ns]

    return map_rows(df.select(F.col(id_col).alias("id"), text_col), kernel,
                    [T.StructField("n_tokens", T.LongType()),
                     T.StructField("n_subwords", T.LongType())],
                    drop=text_col)
