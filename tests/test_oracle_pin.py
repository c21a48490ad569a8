"""The text of every oracle is pinned: a change to any ``oracle_sql()``
string must be deliberate, with this digest updated beside it. No Spark
session is needed to build the strings."""

from __future__ import annotations

import hashlib

import __spark_entry__ as entry

ORACLE_SHA256 = (
    "cedecf3106b484fe2889e0fcb3c36201ed3645f11bf57b4788b79c0528d810e8")


def test_oracle_text_unchanged():
    text = "".join(name + sql
                   for name, sql in sorted(entry.oracle_sql().items()))
    assert hashlib.sha256(text.encode()).hexdigest() == ORACLE_SHA256
