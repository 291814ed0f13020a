"""Stream-stream interval join: streaming result == batch result, and the
join state is provably bounded (the plan carries watermark + range)."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import types as T

from taxi_data_datapipeline_spark.streaming import drain
from taxi_data_datapipeline_spark.streaming.joins import view_purchase_attribution

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _write(base, name, rows):
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pq.write_table(pa.Table.from_pandas(pdf), str(base / name), coerce_timestamps="us")


@pytest.fixture(scope="module")
def stream_dirs(tmp_path_factory):
    vdir = tmp_path_factory.mktemp("views")
    pdir = tmp_path_factory.mktemp("purchases")
    _write(
        vdir,
        "v0.parquet",
        [
            (1, 100, "2024-03-01 10:00:00", 0.0),
            (2, 100, "2024-03-01 12:00:00", 0.0),
            (3, 200, "2024-03-01 10:30:00", 0.0),
        ],
    )
    _write(
        vdir,
        "v1.parquet",
        [(4, 300, "2024-03-01 11:00:00", 0.0)],
    )
    _write(
        pdir,
        "p0.parquet",
        [
            (10, 100, "2024-03-01 10:20:00", 9.5),  # matches view 1 (20 min)
            (11, 100, "2024-03-01 13:30:00", 3.0),  # 90 min after view 2: no match
            (12, 200, "2024-03-01 11:29:00", 7.0),  # matches view 3 (59 min)
        ],
    )
    _write(
        pdir,
        "p1.parquet",
        [(13, 300, "2024-03-01 11:00:00", 5.0)],  # simultaneous: matches view 4
    )
    return str(vdir), str(pdir)


def test_stream_join_equals_batch_join(spark, stream_dirs):
    vdir, pdir = stream_dirs
    vs = spark.readStream.schema(EVENT_SCHEMA).option("maxFilesPerTrigger", "1").parquet(vdir)
    ps = spark.readStream.schema(EVENT_SCHEMA).option("maxFilesPerTrigger", "1").parquet(pdir)
    stream_rows = {
        (r.view_id, r.purchase_id)
        for r in drain(view_purchase_attribution(vs, ps, window="1 hour")).collect()
    }

    batch = view_purchase_attribution(
        spark.read.parquet(vdir), spark.read.parquet(pdir), window="1 hour"
    )
    batch_rows = {(r.view_id, r.purchase_id) for r in batch.collect()}

    assert stream_rows == batch_rows
    assert stream_rows == {(1, 10), (3, 12), (4, 13)}


def test_stream_join_requires_bounded_state(spark, stream_dirs):
    """The physical plan must carry the interval condition on both join
    sides (state bound) and the event-time watermark."""
    vdir, pdir = stream_dirs
    vs = spark.readStream.schema(EVENT_SCHEMA).parquet(vdir)
    ps = spark.readStream.schema(EVENT_SCHEMA).parquet(pdir)
    df = view_purchase_attribution(vs, ps, window="1 hour", watermark="2 hours")
    plan = df._jdf.queryExecution().analyzed().toString()
    assert plan.count("EventTimeWatermark") == 2  # watermark on BOTH sides
    assert "INTERVAL" in plan  # range condition survived analysis
