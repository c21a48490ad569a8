"""The pinned cross-engine token stream, as JVM expressions.

One definition of "token" is shared by every term-level operator (BPE
vocabulary, linear quality scoring, unigram frequency scoring, top-terms)
and replayed verbatim by their DuckDB oracles: ASCII-lowercased
(translate — the cross-engine-safe subset) runs of non-ASCII-whitespace.
The Python kernels (SimHash, text statistics, BPE) compile the same
``TOKEN_CLASS``; ``str.split()`` would also split on NBSP, U+2028 and
U+001C–U+001F, and so break parity.  Tokens are extracted, not split, so
whitespace-only text yields none.  Keeping it in one place is a parity
contract: an alphabet change here must be mirrored in the oracle SQL, and
nowhere else.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["TOKEN_CLASS", "ASCII_UPPER", "ASCII_LOWER",
           "lower_ascii_tokens", "exploded_terms"]

TOKEN_CLASS = "[^\t\n\f\r ]+"
ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"


def lower_ascii_tokens(text: Column) -> Column:
    """array<string> of ASCII-lowercased pinned-alphabet tokens; null text
    yields an empty array (errors-as-data)."""
    return F.regexp_extract_all(
        F.translate(F.coalesce(text, F.lit("")), ASCII_UPPER, ASCII_LOWER),
        F.lit(TOKEN_CLASS), 0)


def exploded_terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term) — the exploded token stream (empty docs drop out)."""
    return df.select(F.col(id_col).alias("id"),
                     F.explode(lower_ascii_tokens(F.col(text_col)))
                     .alias("term"))
