"""Deterministic synthetic pages table (the BASELINE input_hint shape).

Generates Common-Crawl-style rows ``(url, warc_ts, html:binary, text, lang)``
— plus test-only metadata columns — with a fixed seed and no wall-clock:

* ~90% synthetic HTML payloads: boilerplate chrome (nav/header/sidebar/footer
  with high link density) around ONE main-content subtree of seeded
  sentences, nested to exercise tag-depth scoring and subtree selection;
* ~8% minimal synthetic PDF text-object payloads (1–3 columns of token boxes
  with a known XY-cut reading order — grammar defined in
  :mod:`ocr_system_spark.functions.pdf_layout`);
* ~2% malformed/truncated payloads that must flow through the errors-as-data
  path (fail counter + NULL extracted_text), the analog of the reference's
  try/except → notes column (/root/reference/ocr/pipeline.py:85-92).

The ``text`` column is the raw visible page text (boilerplate included),
multi-page documents joined with the exact PAGE_BREAK separator, seeded with
the field snippets from FIXTURES.md §1 so every regex extractor has known
answers. Golden outputs are produced by running the REFERENCE extractor over
this very column (tools/make_goldens.py), giving the byte-identity oracle.
"""

from __future__ import annotations

import random
import re
from datetime import datetime, timedelta, timezone
from typing import Dict, List

import pandas as pd

from ocr_system_spark.functions.patterns import PAGE_BREAK

_WS_RUN = re.compile(r"\s+")

EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

LANGS = ["en", "fr", "es", "zh", "de"]

_WORDS = (
    "signal tower spectrum allocation coverage antenna relay frequency "
    "municipal district provincial agreement renewal clause operator "
    "transmission capacity backhaul fiber latency throughput compliance "
    "inspection certificate annual quarterly technical standard protocol"
).split()

_BOILER_LINKS = [
    "Home", "About Us", "Contact", "Careers", "Privacy Policy", "Terms",
    "Sitemap", "Login", "Register", "Archive", "News", "Subscribe",
]

# --- field snippet factories (FIXTURES.md §1) -----------------------------

def _snip_license(rng: random.Random) -> str:
    return rng.choice([
        "LIC-12345", "LIC_98765", "LIC 4401", f"LIC-{rng.randint(100, 99999)}",
        "License ID: ABC123XYZ", f"License ID# QWE{rng.randint(100000, 999999)}",
    ])

def _snip_typed_license(rng: random.Random) -> str:
    return rng.choice([
        "No. 123 (R05)", "ABC 4567 (R/2)", "TRC 881 （R05）", "XY 42 (RO05)",
        f"No. {rng.randint(1, 9999)} (R{rng.randint(1, 99):02d})",
        "45/678 R9", f"{rng.randint(10, 999)}/{rng.randint(10, 9999)} R{rng.randint(1, 20)}",
        "DEF 77 (R₀5)", "No 55 (r_7)",
    ])

def _snip_date(rng: random.Random) -> str:
    return rng.choice([
        "12/05/2024", "2024-05-12", f"{rng.randint(10, 28)}/0{rng.randint(1, 9)}/202{rng.randint(0, 6)}",
        f"202{rng.randint(0, 6)}-1{rng.randint(0, 2)}-{rng.randint(10, 28)}",
    ])

def _snip_date_range(rng: random.Random) -> str:
    return rng.choice([
        "valid from 10th May 2025 to 12.06.2026",
        'period 15" May 2025 to 1.1.2026',
        "effective 12 . 02 . 2025 to 21-03-2026 inclusive",
        "3rd January 2024 up to 4th February 2027",
        f"from {rng.randint(1, 28)}.{rng.randint(1, 12)}.202{rng.randint(4, 6)} to "
        f"{rng.randint(1, 28)}-{rng.randint(1, 12)}-202{rng.randint(7, 9)}",
    ])

def _snip_reference(rng: random.Random) -> str:
    return rng.choice([
        "REF-ABCD12", "Reference: XY-99", f"REF {rng.randint(1000, 9999)}X",
        f"Ref:# K{rng.randint(100, 999)}-Z",
    ])

def _snip_address(rng: random.Random) -> str:
    streets = ["123 Main St, Colombo 07", "45 Lake Rd, Kandy", "9 Hill Top Ave, Galle",
               f"{rng.randint(1, 400)} Tower Lane, Zone {rng.randint(1, 9)}"]
    addr = rng.choice(streets)
    return rng.choice([
        f"Telecommunication Tower at {addr} of Dialog Axiata PLC",
        f"Transmission Tower Providing Facilities for Telecommunication at {addr} situated in the province",
        f"(Telecommunication tower), erected at {addr} within the municipal limits",
        f"Telecommunication mast installed at {addr} under local bylaws",
    ])

def _snip_noise(rng: random.Random) -> str:
    return rng.choice([
        "lorem​​ipsum\r\rnoise   run",
        "plain     spaced      text",
        "​ZERO​WIDTH​",
    ])

_SNIPPETS = [
    _snip_license, _snip_typed_license, _snip_date, _snip_date_range,
    _snip_reference, _snip_address, _snip_noise,
]


def _sentence(rng: random.Random, n: int = 9) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n)).capitalize() + "."


def _page_text(rng: random.Random, rich: bool) -> str:
    """Raw visible text of one page: sentences interleaved with 0–4 snippets."""
    parts: List[str] = []
    n_sent = rng.randint(2, 6)
    n_snip = rng.randint(1, 4) if rich else 0
    snips = [rng.choice(_SNIPPETS)(rng) for _ in range(n_snip)]
    for i in range(n_sent):
        parts.append(_sentence(rng))
        if snips and rng.random() < 0.7:
            parts.append(snips.pop())
    parts.extend(snips)
    return " ".join(parts)


# --- HTML payload ----------------------------------------------------------

def _html_payload(rng: random.Random, main_paras: List[str], lang: str) -> bytes:
    """Template chrome with high link density + one main-content subtree."""
    nav = "".join(
        f'<li><a href="/{w.lower().replace(" ", "-")}">{w}</a></li>'
        for w in rng.sample(_BOILER_LINKS, 6)
    )
    side = "".join(
        f'<p class="widget"><a href="/w{i}">{rng.choice(_BOILER_LINKS)}</a> '
        f'{rng.choice(_WORDS)}</p>'
        for i in range(rng.randint(2, 5))
    )
    paras = "".join(f"<p>{p}</p>" for p in main_paras)
    depth_wrap_open = "<div>" * rng.randint(0, 3)
    depth_wrap_close = "</div>" * (depth_wrap_open.count("<div>"))
    doc = (
        f'<!DOCTYPE html><html lang="{lang}"><head><title>{_sentence(rng, 3)}</title>'
        f"<style>.x{{color:red}}</style><script>var a=1;</script></head>"
        f"<body><header><h1>{rng.choice(_WORDS).title()} Portal</h1>"
        f"<nav><ul>{nav}</ul></nav></header>"
        f'<aside class="sidebar">{side}</aside>'
        f"{depth_wrap_open}<main><article>{paras}</article></main>{depth_wrap_close}"
        f'<footer><p><a href="/privacy">Privacy</a> | <a href="/terms">Terms</a> | '
        f"© 2024 {rng.choice(_WORDS).title()} Inc.</p></footer></body></html>"
    )
    return doc.encode("utf-8")


# --- PDF payload (minimal text-object grammar; parser in pdf_layout.py) ----

def _pdf_payload(rng: random.Random, pages: List[List[str]]):
    """1–3 column layout per page; token boxes carry (x, y) so XY-cut has a
    known answer: columns left→right, lines top→bottom. Returns
    (payload_bytes, expected_reading_order_text_per_page)."""
    out: List[str] = ["%PDF-SYN1"]
    expected_pages: List[str] = []
    for page_tokens in pages:
        out.append("PAGE")
        ncols = rng.randint(1, 3)
        col_x = [72.0 + c * 180.0 for c in range(ncols)]
        # distribute lines of ~4 tokens round-robin over columns, top y=720
        lines: List[List[str]] = []
        cur: List[str] = []
        for tok in page_tokens:
            cur.append(tok)
            if len(cur) >= 4:
                lines.append(cur)
                cur = []
        if cur:
            lines.append(cur)
        per_col = max(1, (len(lines) + ncols - 1) // ncols)
        for li, line in enumerate(lines):
            c = min(li // per_col, ncols - 1)
            y = 720.0 - (li % per_col) * 14.0
            x = col_x[c]
            for ti, tok in enumerate(line):
                tok_esc = tok.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
                out.append(f"BT {x + ti * 40.0:.1f} {y:.1f} Td ({tok_esc}) Tj ET")
        out.append("ENDPAGE")
        # reading order (cols left→right, lines top→bottom) preserves the
        # original line order under this layout
        expected_pages.append("\n".join(" ".join(line) for line in lines))
    return "\n".join(out).encode("utf-8"), expected_pages


def _bad_payload(rng: random.Random) -> bytes:
    return rng.choice([
        b"\x00\x01\x02truncated-garbage\xff\xfe",
        b"%PDF-SYN1\nPAGE\nBT 10 10 Td (unterminated",
        b"<html><body><div>never closed",
        b"",
    ])


# --- top-level generator ----------------------------------------------------

def generate_pages(
    n_rows: int,
    seed: int = 42,
    skew_rows: int = 0,
    skew_factor: int = 200,
    heft: int = 1,
) -> pd.DataFrame:
    """Build the synthetic pages table as pandas (deterministic).

    ``skew_rows`` rows get payloads ~``skew_factor``× median size to exercise
    the oversize-blob skew-split (SURVEY §4.3.3). ``heft`` multiplies the
    main-content paragraph count — bench fixtures use heft>1 so page sizes
    approach real web pages (tens of KB) instead of the ~2 KB test default.
    """
    rng = random.Random(seed)
    rows: List[Dict] = []
    for i in range(n_rows):
        lang = LANGS[i % len(LANGS)]
        url = f"https://site{i % 97}.example/{lang}/doc{i}"
        ts = EPOCH + timedelta(seconds=i * 137)
        r = rng.random()
        is_skew = i < skew_rows
        if r < 0.02:
            kind = "bad"
            html = _bad_payload(rng)
            text = ""
            expected_main = ""
        elif r < 0.10:
            kind = "pdf"
            n_pages = rng.randint(1, 3)
            mult = heft * (skew_factor if is_skew else 1)
            page_tokens = [
                [rng.choice(_WORDS) for _ in range(rng.randint(8, 24) * mult)]
                for _ in range(n_pages)
            ]
            html, expected_pdf_pages = _pdf_payload(rng, page_tokens)
            # visible text: per-page token text in generation order;
            # rich snippets appended so the regex layer has material
            page_texts = [" ".join(toks) for toks in page_tokens]
            if rng.random() < 0.8:
                page_texts[0] += " " + rng.choice(_SNIPPETS)(rng)
            if n_pages > 1 and rng.random() < 0.3:
                # second-page-only typed license: must be IGNORED by F13
                page_texts[1] += " No. 999 (R99)"
            text = PAGE_BREAK.join(page_texts)
            expected_main = PAGE_BREAK.join(expected_pdf_pages)
        else:
            kind = "html"
            n_paras = rng.randint(2, 5) * heft * (skew_factor if is_skew else 1)
            main_paras = [_page_text(rng, rich=True) for _ in range(min(n_paras, 4000))]
            html = _html_payload(rng, main_paras, lang)
            boiler_text = "Home About Us Contact Careers Privacy Policy Terms"
            n_pages = 1 if rng.random() < 0.7 else rng.randint(2, 3)
            page_texts = [boiler_text + " " + " ".join(main_paras)]
            for _ in range(n_pages - 1):
                page_texts.append(_page_text(rng, rich=True))
            if n_pages > 1 and rng.random() < 0.3:
                page_texts[-1] += " No. 888 (R88)"
            text = PAGE_BREAK.join(page_texts)
            # the extraction kernel's contract is one whitespace-normalized
            # line per block — record the expectation in the same form
            expected_main = "\n".join(
                _WS_RUN.sub(" ", p).strip() for p in main_paras
            )
        rows.append({
            "url": url,
            "warc_ts": ts,
            "html": html,
            "text": text,
            "lang": lang,
            "payload_kind": kind,
            "expected_main": expected_main,
        })
    df = pd.DataFrame(rows)
    df["warc_ts"] = pd.to_datetime(df["warc_ts"], utc=True).dt.tz_convert("UTC")
    return df
