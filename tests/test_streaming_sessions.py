"""Stateful streaming sessionization (applyInPandasWithState)."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from taxi_data_datapipeline_spark.streaming import drain
from taxi_data_datapipeline_spark.streaming.sessions import sessionize_stream


@pytest.fixture(scope="module")
def session_stream_dir(tmp_path_factory):
    base = tmp_path_factory.mktemp("sess_stream")
    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 1, 2, 2],
            "ts": [
                # user 1: session A (2 events), >30min gap, session B (2 events)
                pd.Timestamp("2024-03-01 08:00:00"),
                pd.Timestamp("2024-03-01 08:10:00"),
                pd.Timestamp("2024-03-01 09:00:00"),
                pd.Timestamp("2024-03-01 09:05:00"),
                # user 2: one open session
                pd.Timestamp("2024-03-01 08:00:00"),
                pd.Timestamp("2024-03-01 08:20:00"),
            ],
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf), str(base / "f1.parquet"), coerce_timestamps="us")
    return str(base)


def test_sessionize_stream_gap_close(spark, session_stream_dir):
    events = (
        spark.readStream.schema("user_id long, ts timestamp")
        .parquet(session_stream_dir)
    )
    sessions = sessionize_stream(events, gap_seconds=30 * 60)
    rows = drain(sessions, "update").collect()
    # Only user 1's FIRST session closed (by gap); the open sessions stay in state.
    assert len(rows) == 1
    r = rows[0]
    assert r.user_id == 1
    assert r.closed_by == "gap"
    assert r.n_events == 2
    assert r.session_start == pd.Timestamp("2024-03-01 08:00:00")
    assert r.session_end == pd.Timestamp("2024-03-01 08:10:00")
