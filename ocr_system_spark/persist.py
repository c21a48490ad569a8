"""One way to cache a DataFrame, and one owner to release it.

``persist(df)`` pins ``df`` at the level ``DataFrame.cache()`` uses; a
plan that is already cached comes back unchanged, with no second pin and
no ownership.  The innermost ``scoped_persist()`` open on the calling
thread owns a new pin and releases it on exit.  Outside any scope the
session owns it until ``clearCache()``: dropping the DataFrame releases
nothing, because the CacheManager keeps the cached relation reachable.
Operators return lazy results and never open a scope; code that runs its
own actions (a streaming micro-batch, a tool's run) does.

A ``localCheckpoint`` result is a persisted RDD, not a CacheManager entry,
so ``clearCache()`` does not reach it: its maker releases it with
``release_checkpoint`` once nothing reads it.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_scopes = threading.local()


def persist(df: DataFrame) -> DataFrame:
    """``df``, pinned unless its plan is already cached (see above)."""
    if df.storageLevel == StorageLevel.NONE:
        df.persist(StorageLevel.MEMORY_AND_DISK_DESER)
        if getattr(_scopes, "stack", None):
            _scopes.stack[-1].append(df)
    return df


@contextmanager
def scoped_persist() -> Iterator[None]:
    """Unpersist, newest first, the pins ``persist`` made in the block: a
    non-cascading uncache of a parent would rebuild a dependent cache."""
    stack = _scopes.__dict__.setdefault("stack", [])
    stack.append([])
    try:
        yield
    finally:
        for df in reversed(stack.pop()):
            df.unpersist()


def release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks of ``df``, a ``localCheckpoint`` result.  This is
    what ``RDD.unpersist`` does, without its warning that a local
    checkpoint cannot be recomputed, which would print once per release."""
    rdd = df._jdf.queryExecution().analyzed().rdd()
    df.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd.id(), False)
