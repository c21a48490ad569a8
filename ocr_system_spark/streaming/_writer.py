"""Starting a stream: the checkpoint and trigger every sink here shares."""

from __future__ import annotations

from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def start_checkpointed(writer: DataStreamWriter, checkpoint_dir: str,
                       available_now: bool) -> StreamingQuery:
    """Start ``writer`` with its progress checkpointed in
    ``checkpoint_dir``. ``available_now`` drains what exists and stops;
    False leaves the query tailing its source."""
    writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
