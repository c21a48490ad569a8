"""Sessionization — batch (window functions) and streaming (custom
stateful operator via ``applyInPandasWithState``).

Batch form: the classic gap-based session id — a new session starts where
the gap to the previous event exceeds ``gap``; session id is the running
count of session starts (lag + cumulative sum over an event-time window).
Fully SQL-expressible → DuckDB-oracled in the driver contract.

Streaming form: one ``GroupState`` per user holds the open session;
arriving micro-batch events extend it or close it (emit) and start a new
one; event-time timeout (watermark passing session_end + gap) flushes idle
sessions exactly once. This is the ``applyInPandasWithState`` custom
stateful operator the batch engine cannot express incrementally.
"""

from __future__ import annotations

from typing import Iterator, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEFAULT_GAP_MIN = 30

SESSION_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType(), False),
    T.StructField("session_start", T.TimestampType(), False),
    T.StructField("session_end", T.TimestampType(), False),
    T.StructField("n_events", T.LongType(), False),
    T.StructField("total_value", T.DoubleType(), True),
])

# open-session state: epoch micros + counters
STATE_SCHEMA = T.StructType([
    T.StructField("start_us", T.LongType(), False),
    T.StructField("end_us", T.LongType(), False),
    T.StructField("n", T.LongType(), False),
    T.StructField("v", T.DoubleType(), False),
])


# ---------------------------------------------------------------------------
# batch
# ---------------------------------------------------------------------------

def sessionize_batch(events: DataFrame, gap_min: int = DEFAULT_GAP_MIN) -> DataFrame:
    """(user_id, session_id, session_start, session_end, n_events,
    total_value) via lag + running sum of session starts."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet timestamps may arrive as TIMESTAMP_NTZ, which has no direct
    # numeric cast — normalize through LTZ (session tz is pinned to UTC)
    ts_sec = F.col("ts").cast("timestamp_ltz").cast("long")
    gap_expr = ts_sec - F.lag(ts_sec).over(w)
    with_flag = events.withColumn(
        "is_new",
        F.when(gap_expr.isNull() | (gap_expr > gap_min * 60), 1).otherwise(0),
    )
    with_sess = with_flag.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return (
        with_sess.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# streaming (custom stateful operator)
# ---------------------------------------------------------------------------

def sessionize_stream(
    events_stream: DataFrame,
    gap_min: int = DEFAULT_GAP_MIN,
    watermark: str = "1 hour",
):
    """events stream (user_id, ts, value, …) → closed-session stream.

    Emits a session row when (a) a newer event for the same user opens the
    next session, or (b) the event-time watermark passes session_end + gap
    (GroupStateTimeout.EventTimeTimeout). State per user is one open
    session — bounded regardless of stream length."""
    import pandas as pd  # the stateful API hands its groups over as pandas
    gap_us = gap_min * 60 * 1_000_000

    def fn(
        key: Tuple[int],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        out = []

        def emit(start_us: int, end_us: int, n: int, v: float) -> None:
            out.append((user_id,
                        pd.Timestamp(start_us, unit="us"),
                        pd.Timestamp(end_us, unit="us"),
                        n, v))

        if state.hasTimedOut:
            start_us, end_us, n, v = state.get
            emit(start_us, end_us, n, v)
            state.remove()
        else:
            rows = pd.concat(list(pdfs), ignore_index=True)
            rows = rows.sort_values("ts")
            ts_us = (rows["ts"].astype("int64") // 1000).tolist()
            vals = rows["value"].fillna(0.0).tolist()
            if state.exists:
                start_us, end_us, n, v = state.get
            else:
                start_us, end_us, n, v = 0, 0, 0, 0.0  # no open session yet
            for t, val in zip(ts_us, vals):
                if n == 0:
                    start_us, end_us, n, v = t, t, 1, float(val)
                elif t - end_us <= gap_us:
                    end_us, n, v = max(end_us, t), n + 1, v + float(val)
                else:
                    emit(start_us, end_us, n, v)
                    start_us, end_us, n, v = t, t, 1, float(val)
            state.update((int(start_us), int(end_us), int(n), float(v)))
            state.setTimeoutTimestamp(end_us // 1000 + gap_min * 60 * 1000)

        yield pd.DataFrame(
            out, columns=["user_id", "session_start", "session_end",
                          "n_events", "total_value"],
        )

    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
