"""What more than one query family uses: the builder type and the SQL
fragments that two families' oracles share."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

# the Gopher stop words as a SQL list body (gopher_quality, and the quality
# gate inside curation_pipeline)
STOPS_SQL = ", ".join(f"'{s}'" for s in
                      ("the", "be", "to", "of", "and", "that", "have", "with"))


# hashed linear quality score: md5-hex stub weight replayed digit by
# digit (strpos over the hex alphabet — no numeric hex parsing)
def _wdig(i: int) -> str:
    return f"(strpos('0123456789abcdef', substr(md5(term), {i}, 1)) - 1)"


WEIGHT_SQL = (f"(({_wdig(1)} * 4096 + {_wdig(2)} * 256 + "
              f"{_wdig(3)} * 16 + {_wdig(4)}) % 2001 - 1000)")
