"""Seeded benchmark inputs, cached per (workload, seed) on local disk.

Every input is a pure function of the workload name and the seed. The
program under test only ever sees the ``input.parquet`` file; the known
answer each run is checked against lives next to it in ``answer.parquet``.
Generation runs before set-up starts, so it is never part of ``setup_s``.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

PAGE_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]

# Offset added to an original's doc_id to form its planted copy's id.
COPY_ID_OFFSET = 1_000_000


@dataclass(frozen=True)
class PagesSpec:
    """A crawl-page table from ``sources.pages.generate_pages``."""
    rows: int
    heft: int
    blob_share: float = 0.0
    blob_factor: int = 60
    columns = PAGE_COLUMNS


@dataclass(frozen=True)
class DedupSpec:
    """A Zipf-vocabulary corpus in which a share of docs has a planted copy."""
    docs: int
    vocab: int
    zipf_s: float
    words_lo: int
    words_hi: int
    copy_share: float
    columns = ["doc_id", "text"]


def _write_pages(spec: PagesSpec, seed: int, out: str) -> dict:
    from ocr_system_spark.sources.pages import generate_pages

    n_blobs = int(spec.rows * spec.blob_share)
    pdf = generate_pages(spec.rows, seed=seed, heft=spec.heft,
                         skew_rows=n_blobs, skew_factor=spec.blob_factor)
    pdf[PAGE_COLUMNS].to_parquet(
        os.path.join(out, "input.parquet"), index=False,
        coerce_timestamps="us", allow_truncated_timestamps=True)
    answer = pd.DataFrame({
        "url": pdf["url"],
        "payload_kind": pdf["payload_kind"],
        "html": pdf["html"],
        "expected_main": pdf["expected_main"],
    })
    answer.to_parquet(os.path.join(out, "answer.parquet"), index=False)
    n_bytes = pdf["html"].map(len)
    return {
        "rows": int(len(pdf)),
        "mean_bytes": round(float(n_bytes.mean()), 1),
        "total_mb": round(float(n_bytes.sum()) / 1e6, 2),
        "blob_rows": n_blobs,
        "blob_byte_share": round(float(n_bytes[:n_blobs].sum() / n_bytes.sum()), 4),
        "kinds": {k: int(v) for k, v in pdf["payload_kind"].value_counts().items()},
    }


def _word(rank: int) -> str:
    """A distinct lowercase word per vocabulary rank (bijective base 26)."""
    chars = []
    r = rank + 27  # every word has at least two letters
    while r:
        r, d = divmod(r - 1, 26)
        chars.append(chr(97 + d))
    return "".join(reversed(chars))


def _write_dedup(spec: DedupSpec, seed: int, out: str) -> dict:
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, spec.vocab + 1, dtype=np.float64) ** spec.zipf_s
    p /= p.sum()
    vocab = np.array([_word(r) for r in range(spec.vocab)], dtype=object)
    lengths = rng.integers(spec.words_lo, spec.words_hi + 1, size=spec.docs)
    draws = rng.choice(spec.vocab, size=int(lengths.sum()), p=p)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(vocab[draws[bounds[i]:bounds[i + 1]]])
             for i in range(spec.docs)]
    ids = np.arange(spec.docs, dtype=np.int64)
    copied = np.sort(rng.choice(spec.docs, size=int(spec.docs * spec.copy_share),
                                replace=False))
    extra = rng.choice(spec.vocab, size=(len(copied), 2), p=p)
    copy_texts = [f"{texts[i]} {vocab[a]} {vocab[b]}"
                  for i, (a, b) in zip(copied, extra)]
    docs = pd.DataFrame({
        "doc_id": np.concatenate([ids, copied + COPY_ID_OFFSET]),
        "text": texts + copy_texts,
    })
    # deterministic row order that interleaves originals and copies
    docs = docs.sample(frac=1.0, random_state=seed).reset_index(drop=True)
    docs.to_parquet(os.path.join(out, "input.parquet"), index=False)
    # Each copy is its original plus two words: one component per pair, and
    # keep_best keeps the member with more tokens, i.e. the copy.
    keep = np.concatenate([np.setdiff1d(ids, copied), copied + COPY_ID_OFFSET])
    pd.DataFrame({"doc_id": np.sort(keep)}).to_parquet(
        os.path.join(out, "answer.parquet"), index=False)
    return {
        "rows": int(len(docs)),
        "mean_bytes": round(float(docs["text"].str.len().mean()), 1),
        "total_mb": round(float(docs["text"].str.len().sum()) / 1e6, 2),
        "vocab_types_drawn_from": spec.vocab,
        "vocab_types_used": int(len(np.unique(draws))),
        "near_dup_share": round(len(copied) / len(docs), 4),
        "kept": int(len(keep)),
    }


def materialize(name: str, spec, seed: int, cache_root: str) -> tuple[str, dict]:
    """Return (directory, input properties) for this workload, spec and
    seed, generating the files on first use. A finished directory is marked by
    its ``props.json``, written last."""
    # the spec is part of the key, so a changed spec never reads stale files
    key = hashlib.sha1(repr(spec).encode()).hexdigest()[:8]
    out = os.path.join(cache_root, name, f"{seed}-{key}")
    props_path = os.path.join(out, "props.json")
    if os.path.exists(props_path):
        with open(props_path) as f:
            return out, json.load(f)
    os.makedirs(out, exist_ok=True)
    if isinstance(spec, PagesSpec):
        props = _write_pages(spec, seed, out)
    else:
        props = _write_dedup(spec, seed, out)
    tmp = props_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(props, f)
    os.replace(tmp, props_path)
    return out, props
