"""Structured Streaming variants of the batch surface.

Streaming queries run over static input to completion with
``Trigger.AvailableNow``, so each result can be checked against a batch
oracle. ``drain`` is the one way such a stream is run into a memory sink and
read back as a batch DataFrame; the ``foreachBatch`` drains
(``incremental.run_incremental_pivot``, the ``streaming_tx_sink`` query)
write to checkpointed sinks instead. The sink's temp view is dropped before
``drain`` returns or raises, so the drained rows are held only by the
returned frame, not by the session catalog.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame

_sinks = itertools.count()


def drain(stream: DataFrame, mode: str = "append") -> DataFrame:
    """Run ``stream`` with ``Trigger.AvailableNow`` in output ``mode`` into a
    memory sink and return what it holds. ``spark.table`` analyzes the sink
    view eagerly, so the returned frame keeps the sink after the view is
    dropped. A failing batch raises ``StreamingQueryException``; the query is
    stopped and the view dropped on that path too."""
    name = f"drain_{next(_sinks)}"
    spark = stream.sparkSession
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        return spark.table(name)
    finally:
        q.stop()
        spark.catalog.dropTempView(name)
