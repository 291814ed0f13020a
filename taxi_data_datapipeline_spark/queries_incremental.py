"""Incremental-computation queries: stream-stream joins, materialized-view
maintenance under retractions, and mergeable-sketch quantiles.

Three shapes a 100 TB pipeline leans on once data stops being a static
snapshot:

* ``streaming_interval_attribution`` — the batch as-of/attribution family
  executed as a genuine STREAM-STREAM watermarked interval join
  (``streaming/joins.py``): two unbounded event streams correlated with
  symmetric-hash-join state bounded by watermark + time-range condition.
  Over static input it equals the batch interval join, which is the oracle.

* ``mv_incremental_revenue`` — incremental view maintenance (IVM) with
  retractions: the revenue view is NOT recomputed from surviving rows but
  maintained as a merge of signed partial aggregates (insert = +1,
  delete = -1, update = delete + insert), the algebra every changelog
  consumer (Delta CDF, Flink retract streams, Materialize) runs on. The
  oracle recomputes the view from scratch over the surviving rows — the
  merged deltas must hash-match a full recompute exactly.

* ``histogram_quantile_estimate`` — quantiles from a MERGEABLE fixed-grid
  histogram sketch (256 integer-cent buckets) instead of a global sort:
  per-partition partial histograms merge by addition (map-side combine),
  so the shuffle moves <=256 rows per partition regardless of input size —
  the scale path where an exact percentile's sort would dominate. All
  bucket arithmetic is integer; the interpolation is the same double
  expression tree in Spark and DuckDB, so the estimate value-hashes.

Reference parity: the reference pipeline (pivot_all_files.py) recomputes
every output from scratch per run; these queries are the incremental
re-expression of that contract — same final table, bounded per-batch work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taxi_data_datapipeline_spark.queries import load, register
from taxi_data_datapipeline_spark.queries_advanced import (
    _stream_events,
    _stream_session,
)
from taxi_data_datapipeline_spark.streaming import drain
from taxi_data_datapipeline_spark.streaming.joins import interval_join


# ---------------------------------------------------------------------------
# Stream-stream interval join: view -> purchase attribution over two live
# streams of the SAME unbounded source, split by event type.
# ---------------------------------------------------------------------------
@register(
    "streaming_interval_attribution",
    """
SELECT v.user_id AS user_id,
       v.event_id AS view_id,
       v.ts AS view_ts,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts,
       p.value AS value
FROM (SELECT * FROM events WHERE event_type = 'view') v
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
""",
)
def q_streaming_interval_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Views joined to the purchases that follow within 1 hour, as a
    stream-stream inner interval join: both sides are independent file
    streams (separate source state, separate watermarks), matched by
    Spark's symmetric hash join whose per-side state is evicted once an
    event is older than watermark + attribution window. Append mode: a
    match is emitted exactly once, so over static input the drained sink
    equals the batch join — the oracle. The batch twin is
    ``asof_purchase_view``; this is its unbounded form."""
    spark = _stream_session(spark, sf_dir)
    views = _stream_events(spark, sf_dir).filter(F.col("event_type") == "view")
    purchases = _stream_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    joined = interval_join(
        views, purchases, on="user_id", window="1 hour", watermark="2 hours"
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("view_id"),
        F.col("l.ts").alias("view_ts"),
        F.col("r.event_id").alias("purchase_id"),
        F.col("r.ts").alias("purchase_ts"),
        F.col("r.value").alias("value"),
    )
    return drain(joined)


# ---------------------------------------------------------------------------
# Incremental view maintenance with retractions.
# ---------------------------------------------------------------------------
def _signed_partial(batch: DataFrame) -> DataFrame:
    """Signed partial aggregate of one changelog batch: SUM(w) live-row
    count and SUM(w * cents) revenue per group. Cents are exact
    DECIMAL(38,0), so partials merge by addition in any order."""
    return batch.groupBy("o_orderpriority", "omonth").agg(
        F.sum("w").alias("n_live"),
        F.sum(
            F.col("w") * (F.col("o_totalprice") * 100).cast("decimal(38,0)")
        ).alias("rev_cents"),
    )


@register(
    "mv_incremental_revenue",
    """
WITH survived AS (
  SELECT o_orderpriority,
         MONTH(o_orderdate) AS omonth,
         CASE WHEN o_orderkey % 11 = 5 AND o_orderkey % 7 <> 3
              THEN o_totalprice + 10.0 ELSE o_totalprice END AS price
  FROM orders
  WHERE o_orderkey % 7 <> 3
)
SELECT o_orderpriority, omonth,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST(SUM(CAST(price * 100 AS DECIMAL(38,0))) AS DOUBLE) / 100 AS revenue
FROM survived
GROUP BY o_orderpriority, omonth
""",
)
def q_mv_incremental_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue-by-priority maintained INCREMENTALLY under a CDC
    batch, never recomputed from surviving rows. Changelog algebra:

    * batch 0: every order inserted (weight +1);
    * batch 1 (CDC): orders with ``o_orderkey % 7 == 3`` are DELETED
      (weight -1); disjointly, orders with ``o_orderkey % 11 == 5`` are
      UPDATED (price + 10) — an update is a retraction of the old row
      plus an insertion of the new one, so it contributes two signed rows.

    Each batch reduces to a signed partial aggregate (SUM of weights,
    SUM of weight x exact cents); the view is the SUM-merge of the
    partials with ``HAVING n_live > 0`` dropping groups the deletes
    emptied. The merge is associative and commutative, so batches can
    arrive in any order and partials can be merged map-side — the same
    contract that lets a 1000-executor job maintain the view with one
    shuffle of group-sized rows per batch. The oracle recomputes the
    view from scratch over the surviving rows."""
    orders = load(spark, sf_dir, "orders").withColumn(
        "omonth", F.month("o_orderdate")
    )
    base = orders.withColumn("w", F.lit(1).cast("long"))
    is_del = F.col("o_orderkey") % 7 == 3
    is_upd = (F.col("o_orderkey") % 11 == 5) & ~is_del
    deletes = orders.filter(is_del).withColumn("w", F.lit(-1).cast("long"))
    upd_old = orders.filter(is_upd).withColumn("w", F.lit(-1).cast("long"))
    upd_new = (
        orders.filter(is_upd)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(10.0))
        .withColumn("w", F.lit(1).cast("long"))
    )
    cdc = deletes.unionByName(upd_old).unionByName(upd_new)

    merged = (
        _signed_partial(base)
        .unionByName(_signed_partial(cdc))
        .groupBy("o_orderpriority", "omonth")
        .agg(
            F.sum("n_live").cast("long").alias("n_live"),
            (F.sum("rev_cents").cast("double") / 100).alias("revenue"),
        )
        .filter(F.col("n_live") > 0)
    )
    return merged


# ---------------------------------------------------------------------------
# Mergeable fixed-grid histogram quantiles.
# ---------------------------------------------------------------------------
_HQ_QUANTILES = (0.25, 0.5, 0.75, 0.9, 0.99)


@register(
    "histogram_quantile_estimate",
    """
WITH c AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem
),
bounds AS (
  SELECT MIN(cents) AS mn, MAX(cents) - MIN(cents) + 1 AS span,
         COUNT(*) AS n
  FROM c
),
hist AS (
  SELECT ((c.cents - b.mn) * 256) // b.span AS bucket, COUNT(*) AS cnt
  FROM c, bounds b
  GROUP BY 1
),
cum AS (
  SELECT bucket, cnt,
         SUM(cnt) OVER (ORDER BY bucket) AS cum,
         SUM(cnt) OVER (ORDER BY bucket) - cnt AS cum_before
  FROM hist
),
qs AS (SELECT UNNEST([0.25, 0.5, 0.75, 0.9, 0.99]) AS q),
targets AS (
  SELECT qs.q, CAST(ceil(qs.q * b.n) AS BIGINT) AS target,
         b.mn, b.span
  FROM qs, bounds b
),
chosen AS (
  SELECT t.q, t.target, t.mn, t.span,
         MIN(c.bucket) AS bucket
  FROM targets t JOIN cum c ON c.cum >= t.target
  GROUP BY t.q, t.target, t.mn, t.span
)
SELECT ch.q,
       ch.target AS target_rank,
       ch.bucket,
       (CAST(ch.mn AS DOUBLE)
        + CAST(ch.bucket AS DOUBLE) * (CAST(ch.span AS DOUBLE) / 256.0)
        + (CAST(ch.target - c.cum_before AS DOUBLE) / CAST(c.cnt AS DOUBLE))
          * (CAST(ch.span AS DOUBLE) / 256.0)) / 100.0 AS estimate
FROM chosen ch JOIN cum c ON c.bucket = ch.bucket
""",
)
def q_histogram_quantile_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price quantiles from a 256-bucket fixed-grid histogram sketch.

    Why a sketch and not ``percentile``: the exact form sorts (or
    multi-pass selects) the full column; the histogram form reduces each
    partition to <=256 (bucket, count) rows that merge by addition —
    map-side combine makes the shuffle O(buckets x partitions) no matter
    how many rows feed it, and the same partials are reusable across any
    quantile list. Bucketing is pure integer arithmetic over exact cents
    (no float boundary ambiguity); within the chosen bucket the rank is
    linearly interpolated with the identical double expression the oracle
    runs, so even the estimate column hash-matches. Estimation error is
    bounded by one bucket width (span/256), pinned by the unit test
    against the exact percentile."""
    li = load(spark, sf_dir, "lineitem")
    c = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    # NB: deliberately NOT checkpointed — the ungrouped aggregate below
    # the cumulative window is what lets plans/audit.py prove the global
    # window bounded (a checkpoint turns it into an opaque LogicalRDD and
    # trips the unbounded-global-window lint).
    bounds = c.agg(
        F.min("cents").alias("mn"),
        (F.max("cents") - F.min("cents") + 1).alias("span"),
        F.count(F.lit(1)).alias("n"),
    )
    # Broadcast the 1-row bounds: the histogram pass stays a single scan.
    hist = (
        c.join(F.broadcast(bounds))
        .select(F.expr("((cents - mn) * 256) DIV span").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bucket",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        (F.sum("cnt").over(w) - F.col("cnt")).alias("cum_before"),
    )
    qs = F.array([F.lit(q) for q in _HQ_QUANTILES])
    targets = (
        bounds.select(F.explode(qs).alias("q"), "n", "mn", "span")
        .select(
            "q",
            F.ceil(F.col("q") * F.col("n")).cast("long").alias("target"),
            "mn",
            "span",
        )
    )
    # min_by carries the chosen bucket's (cnt, cum_before) through the
    # SAME aggregate, so the histogram subtree has exactly one consumer —
    # the former join-back re-executed the whole scan+histogram chain
    # (buckets are unique per group, so min_by is deterministic and the
    # interpolation inputs are bit-identical to the join form).
    chosen = (
        F.broadcast(targets)
        .join(cum, F.col("cum") >= F.col("target"))
        .groupBy("q", "target", "mn", "span")
        .agg(
            F.min("bucket").alias("bucket"),
            F.min_by(F.struct("cnt", "cum_before"), "bucket").alias("cc"),
        )
    )
    width = F.col("span").cast("double") / F.lit(256.0)
    est_cents = (
        F.col("mn").cast("double")
        + F.col("bucket").cast("double") * width
        + ((F.col("target") - F.col("cc.cum_before")).cast("double")
           / F.col("cc.cnt").cast("double")) * width
    )
    return chosen.select(
        "q",
        F.col("target").alias("target_rank"),
        "bucket",
        (est_cents / F.lit(100.0)).alias("estimate"),
    )
