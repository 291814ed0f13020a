"""transformWithStateInPandas sessionizer (Spark 4 stateful API).

The runtime path needs ``google.protobuf`` (pyspark's transformWithState
worker protocol), which is not available in every environment — the test
skips if it's missing; the processor itself is import-clean either way.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from taxi_data_datapipeline_spark.streaming import drain
from taxi_data_datapipeline_spark.streaming.sessions_tws import sessionize_stream_tws

try:  # transformWithState worker protocol dependency
    from google.protobuf import descriptor  # noqa: F401

    _HAS_PROTOBUF = True
except ImportError:
    _HAS_PROTOBUF = False

pytestmark = pytest.mark.skipif(
    not _HAS_PROTOBUF, reason="google.protobuf not available for transformWithState"
)


@pytest.fixture(scope="module")
def tws_stream_dir(tmp_path_factory):
    base = tmp_path_factory.mktemp("tws_stream")
    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2],
            "ts": [
                pd.Timestamp("2024-03-01 08:00:00"),
                pd.Timestamp("2024-03-01 08:10:00"),
                pd.Timestamp("2024-03-01 09:30:00"),  # >30min gap closes session A
                pd.Timestamp("2024-03-01 08:00:00"),
            ],
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf), str(base / "f1.parquet"), coerce_timestamps="us")
    return str(base)


@pytest.fixture()
def rocksdb_conf(spark):
    """transformWithState requires the RocksDB state store provider; unset
    afterwards so later tests run on the session's default store."""
    key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(
        key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    yield
    spark.conf.unset(key)


def test_tws_sessionizer(spark, tws_stream_dir, rocksdb_conf):
    events = spark.readStream.schema("user_id long, ts timestamp").parquet(tws_stream_dir)
    sessions = sessionize_stream_tws(events, gap_seconds=30 * 60)
    rows = drain(sessions, "update").collect()
    assert len(rows) == 1  # only user 1's first session closed
    r = rows[0]
    assert (r.user_id, r.n_events) == (1, 2)
    assert r.session_start == pd.Timestamp("2024-03-01 08:00:00")
    assert r.session_end == pd.Timestamp("2024-03-01 08:10:00")
