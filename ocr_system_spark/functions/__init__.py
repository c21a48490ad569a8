"""Scalar/batch kernels: the regex field layer, HTML main-content
extraction, PDF layout, and text-analysis functions.

Everything here is driver-side config or a batch kernel that reads a text
column through ``.tolist()`` (an Arrow array or a pandas Series) and
returns one list per output column (called from Arrow-batched UDFs in
:mod:`ocr_system_spark.operators`). No SparkSession is imported here — the
kernels are unit-testable without a JVM.
"""

from typing import Dict, List, Sequence


def columns(rows: Sequence[tuple], names: List[str]) -> Dict[str, list]:
    """Per-row tuples → one list per named column."""
    return {n: [r[i] for r in rows] for i, n in enumerate(names)}
