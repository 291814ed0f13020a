"""Structured Streaming hourly counts vs the equivalent batch plan."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from taxi_data_datapipeline_spark.streaming.hourly import run_stream_to_memory


@pytest.fixture(scope="module")
def trip_stream_dir(tmp_path_factory):
    base = tmp_path_factory.mktemp("trip_stream")
    pdf = pd.DataFrame(
        {
            "pickup_datetime": [
                pd.Timestamp("2024-03-01 08:05:00"),
                pd.Timestamp("2024-03-01 08:55:00"),
                pd.Timestamp("2024-03-01 09:05:00"),
                pd.Timestamp("2024-03-01 08:30:00"),
                pd.NaT,
            ],
            "pickup_place": ["132", "132", "132", "7", "1"],
            "taxi_type": ["yellow", "yellow", "yellow", "green", "yellow"],
        }
    )
    pq.write_table(
        pa.Table.from_pandas(pdf), str(base / "f1.parquet"), coerce_timestamps="us"
    )
    return str(base)


def test_hourly_counts_stream(spark, trip_stream_dir):
    out = run_stream_to_memory(spark, trip_stream_dir)
    got = {
        (r.taxi_type, r.pickup_place, r.window_start.hour): r.cnt
        for r in out.collect()
    }
    assert got[("yellow", "132", 8)] == 2
    assert got[("yellow", "132", 9)] == 1
    assert got[("green", "7", 8)] == 1
    assert all(r.window_end.hour == r.window_start.hour + 1 for r in out.collect())
    assert len(got) == 3  # null-ts row filtered
