"""The streaming session clone (r12 optimization): state-store partition
count derives from the stream source's size instead of inheriting the
batch session's core count — streaming micro-batches run without AQE, so
nothing else ever coalesces the per-operator state-store instances."""

from __future__ import annotations

import os

import pytest

import taxi_data_datapipeline_spark.queries  # noqa: F401  (registry import order)
from taxi_data_datapipeline_spark.queries_advanced import (
    _STREAM_BYTES_PER_PARTITION,
    _STREAM_MIN_PARTITIONS,
    _stream_session,
)

SF = "/root/testdata/sf0.001"


def test_clone_gets_size_derived_partitions(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    sess = _stream_session(spark, SF)
    nbytes = os.path.getsize(f"{SF}/events.parquet")
    expect = min(
        max(_STREAM_MIN_PARTITIONS, -(-nbytes // _STREAM_BYTES_PER_PARTITION)),
        spark.sparkContext.defaultParallelism,
    )
    assert int(sess.conf.get("spark.sql.shuffle.partitions")) == expect
    # the caller's session is untouched (bench threads share it). NB:
    # compare against the PRE-CALL value, not defaultParallelism — in the
    # full suite test_launch_cwd.py pins the context to local[2] at
    # collection time while the fixture session keeps 4 shuffle
    # partitions, so the two legitimately differ.
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # correctness-critical confs carried onto the clone
    assert sess.conf.get("spark.sql.session.timeZone") == spark.conf.get(
        "spark.sql.session.timeZone"
    )
    assert sess.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


def test_partitions_sized_from_every_source_file(spark, tmp_path, monkeypatch):
    """The stream source reads the events*.parquet glob, so the partition
    count is sized from all of it: two files that each fit one partition's
    bytes but together cross _STREAM_BYTES_PER_PARTITION get two
    partitions. The files are sparse: sizing reads only their lengths."""
    from taxi_data_datapipeline_spark import queries_advanced

    monkeypatch.setattr(queries_advanced, "_STREAM_MIN_PARTITIONS", 1)
    size = _STREAM_BYTES_PER_PARTITION * 3 // 4
    for name in ("events.parquet", "events_late.parquet"):
        with open(tmp_path / name, "wb") as fh:
            fh.truncate(size)
    sess = _stream_session(spark, str(tmp_path))
    expect = min(2, spark.sparkContext.defaultParallelism)
    assert int(sess.conf.get("spark.sql.shuffle.partitions")) == expect


def test_clone_is_memoized_per_partition_count(spark):
    assert _stream_session(spark, SF) is _stream_session(spark, SF)


def test_env_override_wins(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", "7")
    sess = _stream_session(spark, SF)
    assert int(sess.conf.get("spark.sql.shuffle.partitions")) == 7


def test_nonlocal_source_keeps_callers_session(spark):
    # object-store paths can't be sized locally; the caller's session
    # (and therefore its configuration) must pass through unchanged
    assert _stream_session(spark, "s3a://bucket/prefix") is spark


def test_load_memo_not_poisoned_by_clone(spark, monkeypatch):
    """The load() memo must be SESSION-keyed: clones share an
    applicationId, and a clone-bound DataFrame in an app-wide memo makes
    a later createOrReplaceTempView register in the CLONE's catalog —
    the main session's spark.sql then fails with TABLE_OR_VIEW_NOT_FOUND
    (r12 gate: sql_shipping_priority / sql_lateral_topk)."""
    from taxi_data_datapipeline_spark.queries import load

    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", "3")
    clone = _stream_session(spark, SF)
    assert clone is not spark
    df_clone = load(clone, SF, "customer")
    assert df_clone.sparkSession is clone
    df_main = load(spark, SF, "customer")
    assert df_main.sparkSession is spark
    df_main.createOrReplaceTempView("_memo_probe_customer")
    assert spark.sql("SELECT COUNT(*) FROM _memo_probe_customer").collect()[0][0] > 0
    spark.catalog.dropTempView("_memo_probe_customer")


@pytest.mark.parametrize("name", ["streaming_session_windows"])
def test_streaming_query_result_unchanged_on_clone(spark, name):
    """The drained stream result is a function of the data, not of the
    state partition count: same rows at the derived count and at the
    session default."""
    from taxi_data_datapipeline_spark.queries import QUERIES

    got = QUERIES[name](spark, SF)
    n_default = None
    try:
        os.environ["SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS"] = str(
            spark.sparkContext.defaultParallelism
        )
        wide = QUERIES[name](spark, SF)
        n_default = wide.count()
    finally:
        os.environ.pop("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", None)
    assert got.count() == n_default
    assert got.exceptAll(wide).count() == 0
    assert wide.exceptAll(got).count() == 0


def test_sessions_tws_sets_no_shared_conf(spark, monkeypatch):
    """streaming_sessions_tws needs the RocksDB state store, and sets it on
    a session of its own: the caller's session and every memoized stream
    session are shared by concurrent drains, so a conf set there leaks into
    them even when it is restored afterwards."""
    from pyspark.sql.conf import RuntimeConfig

    from taxi_data_datapipeline_spark import queries_advanced
    from taxi_data_datapipeline_spark.queries import QUERIES

    _stream_session(spark, SF)  # memoize the stream session before recording
    calls = []
    for method in ("set", "unset"):
        def record(self, key, *args, _real=getattr(RuntimeConfig, method)):
            calls.append((self, key))
            return _real(self, key, *args)

        monkeypatch.setattr(RuntimeConfig, method, record)
    out = QUERIES["streaming_sessions_tws"](spark, SF)
    assert "spark.sql.streaming.stateStore.providerClass" in {key for _, key in calls}
    shared = [spark, *queries_advanced._STREAM_SESSION_CACHE.values()]
    assert [key for conf, key in calls if any(conf is s.conf for s in shared)] == []
    assert out.count() > 0


def test_warm_stream_call_runs_jobs_only_in_its_stream(spark):
    """``_stream_events`` infers the raw events schema once per session, so
    a warm ``streaming_hourly_counts`` call runs Spark jobs only inside its
    stream: micro-batch jobs run under the stream's own job group, every
    other job under the caller's."""
    from taxi_data_datapipeline_spark.queries import QUERIES

    query = QUERIES["streaming_hourly_counts"]
    query(spark, SF)  # cold: infers and memoizes the schema
    sc = spark.sparkContext
    sc.setJobGroup("outside-stream", "warm streaming_hourly_counts")
    try:
        out = query(spark, SF)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert sc.statusTracker().getJobIdsForGroup("outside-stream") == []
    assert out.count() > 0
