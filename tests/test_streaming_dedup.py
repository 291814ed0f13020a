"""Streaming dedup vs the batch fingerprint tier, plus watermark-bounded
state semantics."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from taxi_data_datapipeline_spark.streaming.dedup import run_dedup_to_memory


@pytest.fixture(scope="module")
def crawl_dir(tmp_path_factory):
    base = tmp_path_factory.mktemp("crawl")
    # shard 1: two originals; shard 2: re-crawl of doc 1 (whitespace-mangled
    # duplicate) within a day + one original; shard 3: re-crawl of doc 2
    # three days later (outside the 24h suppression window)
    shards = [
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": ["hello  spark world", "other document"],
                "crawl_ts": [
                    pd.Timestamp("2024-03-01 00:00:00"),
                    pd.Timestamp("2024-03-01 01:00:00"),
                ],
            }
        ),
        pd.DataFrame(
            {
                "doc_id": [3, 4],
                "text": ["Hello Spark  World", "fresh content"],
                "crawl_ts": [
                    pd.Timestamp("2024-03-01 05:00:00"),
                    pd.Timestamp("2024-03-01 06:00:00"),
                ],
            }
        ),
        # shard advancing the watermark past doc 2's state expiry
        # (01:00 + 24h): watermark after this batch = 12:00 on 03-03
        pd.DataFrame(
            {
                "doc_id": [9],
                "text": ["watermark mover"],
                "crawl_ts": [pd.Timestamp("2024-03-04 12:00:00")],
            }
        ),
        # state eviction runs at the end of the first batch that *executes*
        # with the advanced watermark — this batch is that one
        pd.DataFrame(
            {
                "doc_id": [10],
                "text": ["state evictor"],
                "crawl_ts": [pd.Timestamp("2024-03-04 12:30:00")],
            }
        ),
        pd.DataFrame(
            {
                "doc_id": [5],
                "text": ["other   document"],
                "crawl_ts": [pd.Timestamp("2024-03-04 13:00:00")],
            }
        ),
    ]
    for i, pdf in enumerate(shards):
        pq.write_table(
            pa.Table.from_pandas(pdf),
            str(base / f"shard{i}.parquet"),
            coerce_timestamps="us",
        )
    return str(base)


def test_unbounded_dedup_keeps_first_sighting_only(spark, crawl_dir):
    out = run_dedup_to_memory(spark, crawl_dir)
    ids = sorted(r.doc_id for r in out.collect())
    # doc 3 is a dup of 1 (case/whitespace-normalized), doc 5 a dup of 2 —
    # both suppressed regardless of how much later they arrive
    assert ids == [1, 2, 4, 9, 10]


def test_streaming_matches_batch_fingerprint_tier(spark, crawl_dir):
    from taxi_data_datapipeline_spark.streaming.dedup import fingerprint_expr

    out = run_dedup_to_memory(spark, crawl_dir)
    batch_fps = {
        r.fingerprint
        for r in spark.read.parquet(crawl_dir).select(fingerprint_expr()).collect()
    }
    stream_fps = {r.fingerprint for r in out.collect()}
    assert stream_fps == batch_fps  # same identity definition, same survivors


def test_watermark_bounded_dedup_forgets_old_fingerprints(spark, crawl_dir):
    out = run_dedup_to_memory(spark, crawl_dir, bounded=True, watermark="24 hours")
    ids = sorted(r.doc_id for r in out.collect())
    # doc 3 (5h after doc 1) still suppressed; doc 5 (3 days after doc 2)
    # falls outside the suppression window and survives as a "new" sighting
    assert 3 not in ids and 1 in ids and 2 in ids and 4 in ids
    assert 5 in ids


def test_lsh_plan_build_round_trip_budget(spark, crawl_dir):
    """The shingler and the MinHash band builder are SQL text that the JVM
    parses once. Built one Column call at a time (a Python lambda per
    permutation), each LSH side took 3,000-4,500 Py4J round trips and the
    shingles alone 200-370. No action runs here: this is plan assembly."""
    from unittest import mock

    from py4j.clientserver import ClientServerConnection
    from py4j.protocol import MEMORY_COMMAND_NAME

    from taxi_data_datapipeline_spark.functions.text import ngram_shingles
    from taxi_data_datapipeline_spark.streaming.dedup import (
        build_old_buckets,
        lsh_incremental_stream,
        read_doc_stream,
    )

    old = spark.read.parquet(crawl_dir)
    stream = read_doc_stream(spark, crawl_dir)
    send = ClientServerConnection.send_command
    calls = []

    def counted(self, command):
        # py4j releasing garbage-collected JVM references is not plan assembly.
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls[-1] += 1
        return send(self, command)

    with mock.patch.object(ClientServerConnection, "send_command", counted):
        calls.append(0)
        old_buckets = build_old_buckets(old)
        calls.append(0)
        lsh_incremental_stream(stream, old_buckets)
        calls.append(0)
        old.select(ngram_shingles("text", 3))
    assert all(0 < n <= 150 for n in calls), calls
