"""Streaming record-high detector: state carries across micro-batches
and only strictly-new maxima emit."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import types as T

from taxi_data_datapipeline_spark.streaming import drain
from taxi_data_datapipeline_spark.streaming.records import record_high_stream


def _write_shard(path, rows):
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us")


def test_record_highs_carry_state_across_batches(spark, tmp_path):
    d = str(tmp_path / "shards")
    os.makedirs(d)
    # batch 1: 10 (record), 30 (record), 20 (not)
    _write_shard(
        f"{d}/a.parquet",
        [
            (1, 1, "2024-01-01 00:00:00", 10.0),
            (2, 1, "2024-01-01 00:00:10", 30.0),
            (3, 1, "2024-01-01 00:00:20", 20.0),
        ],
    )
    # batch 2: 25 must NOT emit (state max=30 carried over); 31 must.
    # An equal value (30) must not emit either — strictly greater only.
    _write_shard(
        f"{d}/b.parquet",
        [
            (4, 1, "2024-01-01 00:00:30", 25.0),
            (5, 1, "2024-01-01 00:00:40", 30.0),
            (6, 1, "2024-01-01 00:00:50", 31.0),
        ],
    )
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
    got = sorted(
        (r.event_id, r.vunits) for r in drain(record_high_stream(stream)).collect()
    )
    assert got == [(1, 10_000_000), (2, 30_000_000), (6, 31_000_000)]
