"""Text-analysis kernels for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

Two tiers per operator:
* a JVM-expressible form (built into the driver queries — pure
  pyspark.sql.functions, oracle-checkable against DuckDB);
* a batch-kernel form here (character n-gram language ID, winnowing
  fingerprints), run once per row over Arrow batches by the pass-through
  map in ``operators/_rowmap``; each reads its text column through
  ``.tolist()`` and returns one list per output column. These are still
  oracle-checkable: the langid oracle is SQL GENERATED from the same
  profile constants, and the winnowing hash is a codepoint polynomial an
  independent SQL engine can recompute from scratch.
"""

from __future__ import annotations


import re
from typing import Dict, List, Tuple

import numpy as np

from ocr_system_spark.functions import columns

# ---------------------------------------------------------------------------
# language ID: character-trigram profiles (tiny, built-in, deterministic)
# ---------------------------------------------------------------------------

# Most-frequent character trigrams per language, derived from the classic
# Cavnar–Trenkle n-gram category profiles (public technique); padded with
# space sentinels. Deliberately small — this is a heuristic identifier.
_LANG_PROFILES: Dict[str, List[str]] = {
    "en": [" th", "the", "he ", " an", "and", "nd ", " of", "of ", "ing",
           "ng ", " to", "to ", "ed ", " in", "ion", "on ", "er ", " co",
           "at ", "en "],
    "fr": [" de", "de ", " le", "le ", "es ", "ent", "nt ", " la", "la ",
           "et ", " et", "ion", "e d", " pa", "que", " qu", "ue ", "re ",
           " co", "les"],
    "es": [" de", "de ", " la", "la ", "os ", " el", "el ", "que", " qu",
           "ue ", "as ", " en", "en ", "ent", " co", "es ", "ión", "ón ",
           "ción", " se"],
    "de": ["en ", "er ", " de", "der", "ie ", " di", "die", "sch", "ein",
           "che", "ich", "nde", " un", "und", "nd ", " ei", "ten", "cht",
           " ge", "ung"],
    "zh": ["的", "是", "了", "在", "人", "有", "我", "他", "这", "中",
           "大", "来", "上", "国", "个", "到", "说", "们", "为", "和"],
}
_LANGS = list(_LANG_PROFILES.keys())


def langid_one(text: str) -> str:
    """Score = number of profile n-grams present; argmax with the profile
    order as deterministic tie-break; 'und' when nothing matches."""
    if not text:
        return "und"
    t = f" {text.lower()} "
    best_lang, best_score = "und", 0
    for lang in _LANGS:
        score = sum(1 for g in _LANG_PROFILES[lang] if g in t)
        if score > best_score:
            best_lang, best_score = lang, score
    return best_lang


def langid_batch(texts) -> List[str]:
    return [langid_one(t) for t in texts.tolist()]


# ---------------------------------------------------------------------------
# quality features (batch form; the JVM form lives in the driver queries)
# ---------------------------------------------------------------------------

_WORD_RE = re.compile(r"\S+")
# BPE-ish subword split: runs of letters, runs of digits, or single
# non-alphanumeric non-space chars — the standard pre-tokenizer shape
_BPEISH_RE = re.compile(r"[A-Za-z]+|\d+|[^\sA-Za-z\d]")
_STOPWORDS = frozenset(
    "the a an and or of to in is are was were be been it this that".split()
)


def quality_features_batch(texts) -> Dict[str, list]:
    rows: List[Tuple[int, int, int, float, float]] = []
    for t in texts.tolist():
        t = t or ""
        words = _WORD_RE.findall(t)
        n_words = len(words)
        n_chars = len(t)
        n_stop = sum(1 for w in words if w.lower() in _STOPWORDS)
        alpha = sum(1 for c in t if c.isalpha())
        upper = sum(1 for c in t if c.isupper())
        punct = sum(1 for c in t if not c.isalnum() and not c.isspace())
        rows.append((
            n_chars,
            n_words,
            n_stop,
            round(punct / n_chars, 6) if n_chars else 0.0,
            round(upper / alpha, 6) if alpha else 0.0,
        ))
    return columns(rows, ["n_chars", "n_words", "n_stopwords", "punct_ratio",
                           "upper_ratio"])


def token_count_batch(texts) -> Dict[str, List[int]]:
    """Whitespace tokens + BPE-ish subword tokens per text."""
    rows = []
    for t in texts.tolist():
        t = t or ""
        rows.append((len(_WORD_RE.findall(t)), len(_BPEISH_RE.findall(t))))
    return columns(rows, ["ws_tokens", "bpeish_tokens"])


# ---------------------------------------------------------------------------
# winnowing fingerprint (rolling hash + local-minimum selection)
# ---------------------------------------------------------------------------

# The k-gram hash is a codepoint-polynomial (Horner) mod a Mersenne prime —
# deliberately NOT a cryptographic hash: every piece (unicode codepoints,
# multiply-add, mod) is expressible in ANSI SQL, so an independent engine
# (the DuckDB oracle) can recompute the fingerprints from scratch. The
# normalization alphabet is pinned to what RE2 and Python `re` agree on:
# ASCII whitespace collapse and ASCII-only lowercasing (full Unicode
# lowercasing differs between engines on chars like U+0130).
WINNOW_BASE = 257
WINNOW_MOD = (1 << 31) - 1

_WS_COLLAPSE = re.compile(r"[\t\n\f\r ]+")
_ASCII_LOWER = str.maketrans(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")


def winnow_normalize(text: str) -> str:
    return _WS_COLLAPSE.sub(" ", (text or "").translate(_ASCII_LOWER)).strip(" ")


def winnow_fingerprint_one(text: str, k: int = 8, window: int = 4) -> List[Tuple[int, int]]:
    """Winnowing (Schleimer et al., SIGMOD'03): hash every k-gram of the
    normalized text, slide a window of ``window`` consecutive k-gram hashes,
    keep each window's minimum (rightmost position on ties) — a
    position-robust document fingerprint. Returns the selected set as
    sorted distinct (pos, fingerprint) pairs; ``pos`` is the 0-based k-gram
    start in the normalized text."""
    t = winnow_normalize(text)
    n = len(t) - k + 1
    if n <= 0:
        return []
    cps = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    h = np.zeros(n, dtype=np.int64)
    for j in range(k):                       # Horner over the k columns
        h = (h * WINNOW_BASE + cps[j:j + n]) % WINNOW_MOD
    if n <= window:
        sw = h[None, :]                      # single (short) window
    else:
        sw = np.lib.stride_tricks.sliding_window_view(h, window)
    # rightmost minimum per window: argmin of the reversed window
    right_idx = sw.shape[1] - 1 - np.argmin(sw[:, ::-1], axis=1)
    pos = np.arange(sw.shape[0], dtype=np.int64) + right_idx
    sel = np.unique(pos)
    return [(int(p), int(h[p])) for p in sel]


def winnow_fingerprint_batch(texts, k: int = 8,
                             window: int = 4) -> List[List[Tuple[int, int]]]:
    return [winnow_fingerprint_one(t, k, window) for t in texts.tolist()]
