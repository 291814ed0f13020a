"""Streaming TWAP: state carries across micro-batches and the drained
segment set equals the batch LEAD() derivation."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F
from pyspark.sql import types as T

from taxi_data_datapipeline_spark.streaming import drain
from taxi_data_datapipeline_spark.streaming.twap import (
    SEGMENT_SCHEMA,
    twap_segment_stream,
)


def _write_shard(path, rows):
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us")


def test_segments_carry_state_across_batches(spark, tmp_path):
    d = str(tmp_path / "shards")
    os.makedirs(d)
    # batch 1: user 1 events at t=0s (v=10) and t=10s (v=20)
    _write_shard(
        f"{d}/a.parquet",
        [(1, 1, "2024-01-01 00:00:00", 10.0), (2, 1, "2024-01-01 00:00:10", 20.0)],
    )
    # batch 2: user 1 event at t=40s — closes the (20, 30s) segment ONLY
    # if state carried the last event across the batch boundary
    _write_shard(f"{d}/b.parquet", [(3, 1, "2024-01-01 00:00:40", 30.0)])
    # The file source orders files by modification time, and two files
    # written back to back can share one: make b strictly later than a.
    a_mtime = os.stat(f"{d}/a.parquet").st_mtime
    os.utime(f"{d}/b.parquet", (a_mtime + 10, a_mtime + 10))

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    segs = sorted(
        (r.vunits, r.dur_us) for r in drain(twap_segment_stream(stream)).collect()
    )
    assert segs == [(10_000_000, 10_000_000), (20_000_000, 30_000_000)]
