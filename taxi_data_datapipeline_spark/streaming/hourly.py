"""Structured Streaming hourly counts — the principled version of the
reference's batch semantics (SURVEY §2.9).

The reference's hour bucketing (``pivot_all_files.py:154``) is a tumbling
1-hour window computed in batch; its month-mismatch audit
(``pivot_all_files.py:158-160``) is a count-don't-drop late-data policy.
Here both become first-class streaming concepts:

* a parquet **file source** with ``maxFilesPerTrigger`` reproduces the
  reference's file-at-a-time incremental processing, but with checkpointed
  exactly-once state instead of a process pool;
* ``window(ts, "1 hour")`` is the hour bucket;
* ``withWatermark`` bounds state: rows later than the watermark are dropped
  by Spark and the state for closed windows is evicted — at 100 TB/day of
  events this is what keeps the agg state finite. The reference's
  "count but keep" audit maps to choosing a generous watermark and
  observing late counts.

Everything is built-in Structured Streaming — no custom stateful operator
is needed for this surface (``applyInPandasWithState`` stays available for
session-style extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from taxi_data_datapipeline_spark.streaming import drain

TRIP_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("pickup_datetime", T.TimestampType()),
        T.StructField("pickup_place", T.StringType()),
        T.StructField("taxi_type", T.StringType()),
    ]
)


def read_trip_stream(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType = TRIP_STREAM_SCHEMA,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Parquet file-source stream; one file per micro-batch by default
    (the reference's per-file processing unit, ``pivot_all_files.py:460-482``).
    """
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )


def hourly_counts_stream(
    trips: DataFrame,
    ts_col: str = "pickup_datetime",
    place_col: str = "pickup_place",
    type_col: str = "taxi_type",
    watermark: str = "2 hours",
) -> DataFrame:
    """1-hour tumbling-window count per (taxi_type, place).

    Output schema: taxi_type, pickup_place, window_start, window_end, cnt.
    The watermark bounds agg state; rows older than it are late-dropped.
    """
    return (
        trips.filter(F.col(ts_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), "1 hour").alias("w"),
            F.col(type_col).alias("taxi_type"),
            F.col(place_col).cast("string").alias("pickup_place"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "taxi_type",
            "pickup_place",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "cnt",
        )
    )


def run_stream_to_memory(
    spark: SparkSession,
    input_dir: str,
    watermark: str = "2 hours",
    schema: T.StructType = TRIP_STREAM_SCHEMA,
) -> DataFrame:
    """Drain all currently-available files through the streaming plan
    (``Trigger.AvailableNow`` semantics) and return the result as a batch
    DataFrame. Test/demo harness; production would
    ``writeStream.format("parquet")`` with a checkpoint dir.
    """
    stream = hourly_counts_stream(
        read_trip_stream(spark, input_dir, schema=schema), watermark=watermark
    )
    return drain(stream, "complete")
