"""Streaming deduplication — the incremental tier of the dedup ladder.

A training-data ingest pipeline rarely gets its corpus in one batch: crawl
shards arrive continuously, and re-crawls repeat documents. Running the
batch ``dedup_exact`` over the full corpus per shard is O(corpus) each
time; the streaming form keeps a fingerprint state store and emits only
first-seen documents per micro-batch.

Two built-in strategies, chosen by whether arrivals carry an event time:

* ``dropDuplicates`` on the fingerprint — exact, but state grows with the
  number of distinct documents forever (fine when a compacted state store
  backs it, the right call for "dedup against all history");
* ``dropDuplicatesWithinWatermark`` — bounds state by event time: a
  re-crawl of a document more than the watermark after its first sighting
  is NOT suppressed. That is the 100 TB/day answer when "duplicate" means
  "seen recently", e.g. re-crawl suppression windows.

The fingerprint is the same normalized-text md5 as the batch operator
(``operators/dedup.py``), so streaming and batch tiers agree on identity.

The LSH screen's shingles, MinHash signature, band keys and Jaccard check
are SQL text (``shingles_sql``, ``operators.dedup.lsh_buckets`` and
``jaccard_sql``, shared with the batch tier), parsed once by the JVM: built
from ``Column`` calls, with a Python lambda per permutation, each side of
the screen costs about 3,000 Py4J round trips of driver time per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from taxi_data_datapipeline_spark.functions.text import shingles_sql
from taxi_data_datapipeline_spark.operators.dedup import jaccard_sql, lsh_buckets
from taxi_data_datapipeline_spark.streaming import drain

DOC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("crawl_ts", T.TimestampType()),
    ]
)


def fingerprint_expr(text_col: str = "text"):
    """Normalized-text fingerprint — identical to the batch dedup tier."""
    return F.md5(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    ).alias("fingerprint")


def read_doc_stream(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType = DOC_STREAM_SCHEMA,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Parquet file-source stream of crawl shards (one file per trigger)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )


def dedup_stream(docs: DataFrame) -> DataFrame:
    """First-seen-wins exact dedup over all history.

    State: one row per distinct fingerprint, forever — pair with a
    RocksDB-backed state store and state-store compaction in production.
    """
    return docs.withColumn("fingerprint", fingerprint_expr()).dropDuplicates(
        ["fingerprint"]
    )


def dedup_stream_within_watermark(docs: DataFrame, watermark: str = "24 hours") -> DataFrame:
    """Recency-bounded dedup: suppress re-sightings of a fingerprint within
    the watermark of its first sighting; state for older fingerprints is
    evicted, keeping the store O(arrival rate x watermark) instead of
    O(corpus). Late rows (older than the watermark) are dropped entirely.
    """
    return (
        docs.withColumn("fingerprint", fingerprint_expr())
        .withWatermark("crawl_ts", watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def run_dedup_to_memory(
    spark: SparkSession,
    input_dir: str,
    bounded: bool = False,
    watermark: str = "24 hours",
    schema: T.StructType = DOC_STREAM_SCHEMA,
) -> DataFrame:
    """Drain all available shards through the dedup stream (AvailableNow);
    returns the surviving first-seen documents."""
    docs = read_doc_stream(spark, input_dir, schema=schema)
    return drain(
        dedup_stream_within_watermark(docs, watermark) if bounded else dedup_stream(docs)
    )


def lsh_incremental_stream(
    new_docs: DataFrame,
    old_buckets: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    ngram: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Streaming incremental near-dup screen: each arriving document is
    MinHash-banded IN THE STREAM (the same codegen signature expressions
    as the batch tier) and joined stream-static against the existing
    corpus's precomputed bucket table — the online form of
    operators/dedup.py:minhash_lsh_incremental, and the architecture a
    production ingest runs: the old side is a persisted table the batch
    pipeline refreshes, the stream only ever does O(batch) work.

    ``old_buckets`` carries (band, bh, old_doc, old_grams) — bucket keys
    plus the shingle set needed for in-stream exact verification (at
    scale the grams column would live in a side lookup; inlined here so
    a single stream-static join verifies too). Duplicate candidate
    pairs from multi-band collisions are dropped with unbounded
    dropDuplicates state — keyed by matched pair, which is
    answer-sized, not corpus-sized.
    """
    # Streaming aggregation would need a watermark; instead derive the
    # signature per-row with array expressions (each row carries its own
    # grams — no cross-row state required).
    banded = lsh_buckets(
        new_docs.selectExpr("doc_id AS new_doc", f"{shingles_sql('text', ngram)} AS new_grams"),
        ["new_doc", "new_grams"],
        "new_grams",
        num_perm,
        bands,
    )
    return (
        banded.join(old_buckets, ["band", "bh"])
        .selectExpr("new_doc", "old_doc", f"{jaccard_sql('new_grams', 'old_grams')} AS jaccard")
        .filter(f"jaccard >= {float(jaccard_threshold)!r}D")
        .dropDuplicates(["new_doc", "old_doc"])
    )


def build_old_buckets(
    old_docs: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    ngram: int = 3,
) -> DataFrame:
    """The static side for ``lsh_incremental_stream``: (band, bh,
    old_doc, old_grams) — in production a table the batch pipeline
    maintains per ingest."""
    # Kept as per-row array expressions (NOT the batch tier's
    # explode+groupBy): the explode form was measured NEUTRAL here and
    # adds a full shuffle of the exploded gram stream, while this form
    # is mapper-only — the better shape for a static side that a batch
    # pipeline rebuilds per ingest.
    return lsh_buckets(
        old_docs.selectExpr("doc_id AS old_doc", f"{shingles_sql('text', ngram)} AS old_grams"),
        ["old_doc", "old_grams"],
        "old_grams",
        num_perm,
        bands,
    )
