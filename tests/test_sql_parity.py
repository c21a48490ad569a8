"""Property-based parity between the Python kernels and their DuckDB SQL
replays — the driver's correctness gate compares them at sf0.01; these
tests pin the SAME equivalence on adversarial generated inputs (unicode,
whitespace soup, ties), so a future kernel tweak that silently diverges
from its oracle fails here first, without Spark in the loop."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    HAVE_HYP = True
except Exception:                       # pragma: no cover
    HAVE_HYP = False

from ocr_system_spark.functions.textstats import winnow_fingerprint_one
from ocr_system_spark.operators.dedup import _SIMHASH_TOKEN_RE, _word_hash

pytestmark = pytest.mark.skipif(not HAVE_HYP, reason="hypothesis missing")

# whitespace-and-unicode-heavy text soup
TEXTS = st.lists(
    st.sampled_from(["the", "a", "And", "WORD", "é中", "Ünïcôdé", " ", "\t",
                     "\n", "xx", "a" * 12, "9", ".", '"q"', "zzz"]),
    min_size=0, max_size=60,
).map("".join)

FUZZ = settings(max_examples=150, deadline=None,
                suppress_health_check=[HealthCheck.too_slow])


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


@FUZZ
@given(TEXTS)
def test_winnow_kernel_matches_sql_replay(text):
    import __spark_entry__ as e
    con = duckdb.connect()
    con.register("docs_src", pd.DataFrame({"doc_id": [0], "text": [text]}))
    con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM docs_src")
    got = sorted(map(tuple, con.execute(
        e.oracle_sql()["winnow_fingerprint"]).fetchall()))
    exp = sorted((0, p, f) for p, f in winnow_fingerprint_one(text))
    assert got == exp


@FUZZ
@given(TEXTS)
def test_simhash_token_hash_matches_duckdb(text):
    con = duckdb.connect()
    for tok in set(_SIMHASH_TOKEN_RE.findall(text)):
        dk = con.execute("SELECT md5_number_lower(?)", [tok]).fetchone()[0]
        assert dk == _word_hash(tok), tok


@FUZZ
@given(TEXTS)
def test_simhash_tokenization_matches_re2(text):
    """Python `re` and DuckDB RE2 must agree on the pinned ASCII token
    alphabet — the whole reason the kernel avoids \\s and .split()."""
    con = duckdb.connect()
    dk = con.execute(
        "SELECT regexp_extract_all(?, '[^\\t\\n\\f\\r ]+')", [text]).fetchone()[0]
    assert list(dk) == _SIMHASH_TOKEN_RE.findall(text)


# ---------------------------------------------------------------------------
# round 4: hashed-shingle sets vs string-shingle sets (the decontaminate /
# dedup equivalence assumption, pinned on adversarial text)
# ---------------------------------------------------------------------------

@FUZZ
@given(TEXTS, TEXTS)
def test_hashed_shingle_overlap_equals_string_overlap(a, b):
    """contamination_hits counts shared 64-bit shingle hashes; the oracle
    counts shared shingle STRINGS. Equality holds unless the md5-derived 64-bit hash
    collides — pin it on unicode/whitespace soup for n=5 and n=3."""
    from ocr_system_spark.operators.dedup import _hashed_shingles_one

    for n in (3, 5):
        def str_set(t):
            w = t.split()
            return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}

        def hash_set(t):
            return set(_hashed_shingles_one(t.split(), n, {}).tolist())

        sa, sb = str_set(a), str_set(b)
        ha, hb = hash_set(a), hash_set(b)
        assert len(ha) == len(sa) and len(hb) == len(sb)
        assert len(ha & hb) == len(sa & sb)
