"""The one way a per-row Python kernel joins a DataFrame: a pass-through
``mapInArrow``; and ``rows_batch``, the Arrow batch a stage that emits its
own rows yields to ``mapInArrow``.

A Python map is a plan barrier. A projected pandas UDF is not: Spark
pushes a filter over its output (``size(col) > 0``, written or inferred
from an ``explode``) below the projection, and the filter then evaluates
the UDF a second time. Through ``map_rows`` every kernel crosses the
Python boundary once per row, whatever the caller puts on top.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type


def map_rows(df: DataFrame, kernel: Callable, out: Sequence[T.StructField],
             drop: Optional[str] = None) -> DataFrame:
    """``df`` with the ``out`` columns ``kernel`` computes per Arrow batch.

    ``kernel(batch)`` gets each ``pa.RecordBatch`` of ``df`` and returns
    ``(rows, values)``: ``values`` holds one array (or list, numpy array)
    per ``out`` field; ``rows`` is None when they align 1:1
    with the batch, else the index of the input row behind each output
    row, so a kernel can drop a row or emit it several times.

    Every input column but ``drop`` passes through. An ``out`` column
    named like an input column replaces it in place (as ``withColumn``
    does); the others are appended. The ``out`` columns are nullable
    whatever ``out`` declares."""
    types = {f.name: f.dataType for f in out}
    keep = [(i, f) for i, f in enumerate(df.schema.fields) if f.name != drop]
    kept = {f.name for _, f in keep}
    schema = T.StructType(
        [T.StructField(f.name, types[f.name]) if f.name in types else f
         for _, f in keep]
        + [T.StructField(n, t) for n, t in types.items() if n not in kept])
    src = [i for i, _ in keep] + [None] * (len(schema) - len(keep))
    arrow = {n: to_arrow_type(t) for n, t in types.items()}

    def run(batches):
        for batch in batches:
            rows, values = kernel(batch)
            made = {n: v if isinstance(v, pa.Array) else pa.array(v, type=t)
                    for (n, t), v in zip(arrow.items(), values)}
            if rows is not None:
                rows = pa.array(rows, type=pa.int64())
            cols = [made[n] if n in made
                    else batch.column(i) if rows is None
                    else batch.column(i).take(rows)
                    for n, i in zip(schema.names, src)]
            yield pa.RecordBatch.from_arrays(cols, names=schema.names)

    return df.mapInArrow(run, schema)


def rows_batch(rows: Sequence[tuple], schema: T.StructType) -> pa.RecordBatch:
    """Row tuples → one Arrow batch of ``schema``'s columns."""
    cols = list(zip(*rows)) or [()] * len(schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, to_arrow_type(f.dataType)) for c, f in zip(cols, schema)],
        names=schema.names)
