"""The shape of the query registry: the names, their order in the
correctness snapshot window, the oracle caps, and the merge of the family
modules. No Spark session is needed."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from registry import dedup, relational


def test_every_query_has_an_oracle():
    names = entry.queries()
    assert len(names) == 114
    assert set(names) == set(entry.oracle_sql())


def test_priority_block_leads_the_driver_window():
    prio = entry._DRIVER_WINDOW_PRIORITY
    assert list(entry.queries())[:len(prio)] == prio


def test_oracle_caps():
    assert entry.oracle_max_sf() == {
        name: 0.01 for name in (
            "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
            "dedup_components", "curation_pipeline", "dedup_ngram_guarded",
            "dedup_keep_best")}


def test_a_name_registered_twice_is_an_error():
    with pytest.raises(ValueError, match="registered twice"):
        entry._merge([relational.queries(), dedup.queries(),
                      relational.queries()])
