"""``streaming.drain``: every AvailableNow memory-sink drain returns a frame
that holds its rows by itself, and leaves no temp view, no active query and
no session conf change behind, on success and on error."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from taxi_data_datapipeline_spark.queries import QUERIES  # before queries_advanced
from taxi_data_datapipeline_spark import queries_advanced
from taxi_data_datapipeline_spark.streaming import drain

SF = "/root/testdata/sf0.001"


def _temp_views(sess) -> set[str]:
    return {t.name for t in sess.catalog.listTables() if t.isTemporary}


@pytest.fixture()
def number_stream(spark, tmp_path):
    pdf = pd.DataFrame({"k": [1, 1, 2, 3], "v": [10, 20, 30, 40]})
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), str(tmp_path / "a.parquet"))
    return spark.readStream.schema("k long, v long").parquet(str(tmp_path))


def test_drain_result_outlives_its_view(spark, number_stream):
    before = _temp_views(spark)
    out = drain(number_stream)
    assert _temp_views(spark) == before
    assert spark.streams.active == []
    assert sorted(r.v for r in out.collect()) == [10, 20, 30, 40]
    assert out.filter(F.col("k") == 1).count() == 2
    assert out.groupBy().sum("v").collect()[0][0] == 100
    counts = drain(number_stream.groupBy("k").count(), "complete")
    assert sorted(map(tuple, counts.collect())) == [(1, 2), (2, 1), (3, 1)]


def test_drain_releases_its_sink_on_error(spark, number_stream):
    before = _temp_views(spark)
    failing = number_stream.select(F.assert_true(F.col("v") < 0).alias("ok"))
    with pytest.raises(StreamingQueryException):
        drain(failing)
    assert _temp_views(spark) == before
    assert spark.streams.active == []


@pytest.mark.parametrize("name", [n for n in QUERIES if n.startswith("streaming_")])
def test_streaming_query_leaves_sessions_clean(spark, name):
    """A streaming query leaves no temp view, no running query and no conf
    change in the caller's session or in the session its result lives on.
    A leftover memory-sink view would pin the drained rows in the driver
    for as long as the session lives."""
    shared = [spark, *queries_advanced._STREAM_SESSION_CACHE.values()]
    views = {id(s): _temp_views(s) for s in shared}
    confs = {id(s): dict(s.conf.getAll) for s in shared}
    df = QUERIES[name](spark, SF)
    for sess in (spark, df.sparkSession):
        assert _temp_views(sess) == views.get(id(sess), set()), name
        assert sess.streams.active == [], name
    for sess in shared:
        assert dict(sess.conf.getAll) == confs[id(sess)], name
