"""End-to-end training-data curation throughput: the LLM-pipeline headline
number, measured the way the flagship pivot is (tools/pivot_throughput.py)
— a realistic corpus on disk, the full operator chain, one wall clock.

Stages (all one engine, composed as DataFrames):
  1. parquet scan of the synthetic corpus (written first, OUTSIDE the
     timed window — the probe measures the pipeline, not the generator);
  2. quality gate (functions/text.quality_score >= threshold);
  3. exact dedup survivorship (normalized-text fingerprint, keep min id);
  4. MinHash-LSH near-dup pairs on the survivors (32 perms, 8x4 bands,
     hot-bucket fanout cap) — exact-Jaccard-verified candidates only;
  5. near-dup connected components (alternating star contraction,
     O(log n) rounds) -> cluster-granular survivorship (keep min id) and
     leakage-safe train/val assignment by md5(cluster) nibble;
  6. token accounting (kept tokens vs scanned tokens);
  7. hash-sharded training-shard write + bit_xor manifest
     (plans/sharding.write_training_shards).

Prints one JSON line: wall seconds per stage boundary actually observable
(generation, pipeline), docs/s and tokens/s end-to-end, kept/dropped
counts, loadavg annotations. Corpus shape mirrors tools/scale_probe.py:
20% exact duplicates + one hot near-dup template cluster, so every dedup
tier does real work.

Usage:
  python tools/curation_throughput.py [--docs 1000000] [--hot 2000]
      [--cpus 32] [--fanout 8] [--keep-out DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from taxi_data_datapipeline_spark.functions.text import (
    fingerprint,
    quality_score,
    token_count,
)
from taxi_data_datapipeline_spark.operators.dedup import minhash_lsh_pairs
from taxi_data_datapipeline_spark.operators.graphs import connected_components_star
from taxi_data_datapipeline_spark.plans.sharding import write_training_shards
from taxi_data_datapipeline_spark.session import get_spark

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from scale_probe import synth_corpus  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--hot", type=int, default=2_000)
    ap.add_argument("--fanout", type=int, default=8)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--quality", type=float, default=0.25)
    ap.add_argument("--keep-out", default=None, help="keep shard output here")
    ap.add_argument(
        "--near",
        type=float,
        default=0.0,
        help="fraction of unique docs made 3-variant NEAR-dup groups "
        "(exercises LSH verification + CC + cluster survivorship "
        "proportionally to corpus size)",
    )
    args = ap.parse_args()

    spark = get_spark("curation_throughput", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    tmp = args.keep_out or tempfile.mkdtemp(prefix="curation_probe_")
    corpus_dir = os.path.join(tmp, "corpus")
    shards_dir = os.path.join(tmp, "shards")

    load0 = os.getloadavg()[0]
    # --- corpus generation (NOT part of the timed pipeline) -----------------
    t0 = time.time()
    synth_corpus(spark, args.docs, args.hot, near_frac=args.near).write.mode(
        "overwrite"
    ).parquet(
        corpus_dir
    )
    t_gen = time.time() - t0

    # --- the timed pipeline --------------------------------------------------
    t0 = time.time()
    docs = spark.read.parquet(corpus_dir)

    # quality gate
    gated = docs.filter(quality_score("text") >= args.quality)

    # exact dedup survivorship: keep the min doc_id per normalized text
    survivors = (
        gated.withColumn("fp", fingerprint(F.col("text")))
        .withColumn(
            "keep",
            F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("fp")),
        )
        .filter(F.col("keep"))
        .drop("keep")
        .localCheckpoint(eager=True)
    )

    # near-dup pairs + cluster survivorship + leakage-safe split
    pairs = minhash_lsh_pairs(
        survivors, max_bucket_fanout=args.fanout, jaccard_threshold=0.5
    ).select("doc_a", "doc_b")
    labels = connected_components_star(pairs)
    clustered = survivors.join(
        labels, survivors.doc_id == labels.node, "left"
    ).select(
        "doc_id",
        "text",
        F.coalesce("comp", "doc_id").alias("cluster"),
    )
    cluster_min = clustered.groupBy("cluster").agg(F.min("doc_id").alias("rep"))
    nibble = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.col("cluster").cast("string")), 1, 1),
        )
        - 1
    )
    kept = (
        clustered.join(cluster_min, "cluster")
        .filter(F.col("doc_id") == F.col("rep"))
        .select(
            "doc_id",
            "text",
            F.when(nibble < 13, "train").otherwise("val").alias("split"),
            token_count("text").alias("n_tokens"),
        )
    )

    manifest = write_training_shards(kept, key="doc_id", out_dir=shards_dir)
    stats = kept.agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum("n_tokens").alias("kept_tokens"),
    ).collect()[0]
    t_pipeline = time.time() - t0
    load1 = os.getloadavg()[0]

    out = {
        "metric": "curation_docs_per_sec",
        "value": round(args.docs / t_pipeline),
        "unit": "docs/sec",
        "docs_in": args.docs,
        "kept_docs": int(stats["kept_docs"]),
        "kept_tokens": int(stats["kept_tokens"]),
        "tokens_per_sec": round(int(stats["kept_tokens"]) / t_pipeline),
        "shard_rows": manifest["total_rows"],
        "n_shards": manifest["n_shards"],
        "gen_sec": round(t_gen, 1),
        "pipeline_sec": round(t_pipeline, 1),
        "cpus": args.cpus,
        "fanout_cap": args.fanout,
        "near_frac": args.near,
        "loadavg": [round(load0, 1), round(load1, 1)],
    }
    print(json.dumps(out), flush=True)
    if not args.keep_out:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
