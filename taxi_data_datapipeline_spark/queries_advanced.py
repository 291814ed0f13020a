"""Advanced surface: as-of join, sessionization, percentiles, grouping
sets, TF-IDF, and the Structured Streaming hourly rollup.

These go beyond the reference (which has no joins or windows at all —
SURVEY §2.5-§2.6) and beyond the plain relational tier: each is an
operator a large-scale training-data or time-series pipeline needs, built
on Spark primitives with the scale path documented in the operator
modules.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from taxi_data_datapipeline_spark.functions.text import bpe_ish_tokens
from taxi_data_datapipeline_spark.operators.asof import asof_join
from taxi_data_datapipeline_spark.operators.iterate import iterate
from taxi_data_datapipeline_spark.queries import load, nanos_ts, register, shared
from taxi_data_datapipeline_spark.session import ensure_nanos_as_long
from taxi_data_datapipeline_spark.streaming import drain

# --- as-of join ---------------------------------------------------------------


@register(
    "asof_purchase_view",
    """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     v AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
SELECT p.event_id, p.user_id, p.ts AS purchase_ts, v.ts AS last_view_ts
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
""",
)
def q_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution as-of join: each purchase gets the latest prior (or
    simultaneous) view by the same user. Union-marker single-shuffle plan
    (operators/asof.py) — no range-join blowup."""
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id"), F.col("ts")
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    out = asof_join(
        purchases, views, on=["user_id"], left_ts="ts", right_ts="ts", right_cols=[]
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("ts_asof").alias("last_view_ts"),
    )


@register(
    "asof_next_purchase",
    """
WITH v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
     p AS (SELECT user_id, ts, MIN(value) AS pval
           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT v.event_id, v.user_id, v.ts AS view_ts,
       CASE WHEN p.ts <= v.ts + INTERVAL 2 HOUR THEN p.ts END AS next_purchase_ts,
       CASE WHEN p.ts <= v.ts + INTERVAL 2 HOUR THEN p.pval END AS next_purchase_value
FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND p.ts >= v.ts
""",
)
def q_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with tolerance: each view gets the NEXT purchase
    by the same user within 2 hours (conversion attribution). Same
    single-shuffle union-marker plan run time-reversed; the oracle is
    DuckDB's native ASOF JOIN with a tolerance post-filter — an
    independent formulation of the same semantics. Right side is
    pre-aggregated per (user, ts) so tie-breaking never enters."""
    ev = load(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select("user_id", "event_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.min("value").alias("pval"))
    )
    out = asof_join(
        views,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["pval"],
        direction="forward",
        tolerance="2 hours",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("ts_asof").alias("next_purchase_ts"),
        F.col("pval_asof").alias("next_purchase_value"),
    )


# --- sessionization -----------------------------------------------------------


@register(
    "sessionize_events",
    """
WITH based AS (
  SELECT user_id, ts, event_id, epoch_ns(ts) // 1000 AS tsu
  FROM events),
flagged AS (
  SELECT user_id, ts, tsu, event_id,
         CASE WHEN tsu - LAG(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
                   > 1800000000 OR
                   LAG(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM based),
sess AS (
  SELECT user_id, ts, tsu,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tsu, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged)
SELECT user_id, session_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM sess
GROUP BY user_id, session_id
""",
)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag -> new-session flag
    -> running sum = session id -> per-session aggregate. One shuffle on
    user_id serves both windows AND the final groupBy (same key).

    Two cross-engine hardenings (the r2/r3 driver hash mismatches):
    1. The gap test runs on INTEGER epoch-microseconds on both engines
       (`unix_micros` here, `epoch_ns(ts) // 1000` in the oracle) so no
       engine-native interval/precision semantics — ns-grain parquet
       readers included — can flip the strict `>` at a boundary.
    2. The oracle's running SUM is cast to BIGINT: DuckDB widens window
       SUM(INTEGER) to HUGEINT, which pandas-based comparators render as
       float64 ("2.0" vs Spark's "2") — rows/schema match, hash doesn't.
    Both windows order by (tsu, event_id): a tie-broken total order makes
    the lag flags and the running sum see the SAME row sequence, so the
    session assignment is deterministic and engine-independent."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("tsu"), F.col("event_id"))
    wrun = (
        Window.partitionBy("user_id")
        .orderBy(F.col("tsu"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev = F.lag("tsu").over(w)
    new_s = (
        prev.isNull() | ((F.col("tsu") - prev) > F.lit(1_800_000_000))
    ).cast("long")
    return (
        ev.select("user_id", "ts", F.unix_micros("ts").alias("tsu"), "event_id")
        .withColumn("new_s", new_s)
        .withColumn("session_id", F.sum("new_s").over(wrun))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "session_window_native",
    """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events),
sess AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM sess
GROUP BY user_id, session_id
""",
)
def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in session_window (batch mode): dynamic-gap windows
    merged inside one aggregation — no lag/running-sum plumbing. The
    oracle is the manual gaps-and-islands formulation with the SAME
    boundary rule (an event exactly gap after its predecessor starts a new
    session: session ranges are [start, last+gap) half-open), proving the
    built-in and the manual tier agree row-for-row. Same single shuffle on
    the user key; in streaming this operator works unchanged with a
    watermark bounding session state."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


# --- percentiles --------------------------------------------------------------


@register(
    "percentile_prices",
    """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
       ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p99
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group. Spark `percentile`
    == DuckDB `quantile_cont` (both h = (n-1)p interpolation). The approx
    path for 100 TB is `approx_percentile` (t-digest-style, bounded
    memory); exact percentile shuffles the group's values."""
    li = load(spark, sf_dir, "lineitem")
    ps = {"p25": 0.25, "p50": 0.5, "p75": 0.75, "p99": 0.99}
    # One percentile aggregate over an array of fractions: a single pass
    # over each group's values instead of four independent aggregates.
    arr = F.percentile("l_extendedprice", F.array(*[F.lit(p) for p in ps.values()]))
    agg = li.groupBy("l_returnflag").agg(arr.alias("_ps"))
    return agg.select(
        "l_returnflag",
        *[
            F.round(F.element_at("_ps", i + 1), 6).alias(a)
            for i, a in enumerate(ps.keys())
        ],
    )


# --- grouping sets ------------------------------------------------------------


@register(
    "grouping_sets_agg",
    """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
""",
)
def q_grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): Spark expands to a
    single Expand + one hash aggregate — one shuffle for all three sets."""
    o = load(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


# --- TF-IDF -------------------------------------------------------------------

_SQL_SUBTOKS = (
    r"list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), t -> t != '')"
)


@register(
    "tfidf_top_terms",
    f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_SUBTOKS}) AS term FROM documents),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tc,
         SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS dlen
  FROM toks GROUP BY doc_id, term),
df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS dfreq FROM toks GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND((tf.tc / tf.dlen) * LN(n.n_docs / df.dfreq), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n)
SELECT doc_id, term, tfidf FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rk
  FROM scored)
WHERE rk <= 3
""",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. explode -> (doc,term) counts ->
    document frequency join -> windowed top-k. The df table is tiny
    relative to the corpus (vocabulary-sized) — Catalyst broadcasts it."""
    docs = load(spark, sf_dir, "documents", fan_out=True)
    n_docs = docs.count()
    toks = docs.select(
        "doc_id", F.explode(bpe_ish_tokens(F.col("text"))).alias("term")
    )
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tc"))
        .withColumn("dlen", F.sum("tc").over(Window.partitionBy("doc_id")))
    )
    dfreq = toks.groupBy("term").agg(F.count_distinct("doc_id").alias("dfreq"))
    scored = tf.join(dfreq.hint("shuffle_hash"), "term").select(
        "doc_id",
        "term",
        F.round(
            (F.col("tc") / F.col("dlen")) * F.log(F.lit(float(n_docs)) / F.col("dfreq")),
            6,
        ).alias("tfidf"),
    )
    wk = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf")
    )


# --- structured streaming -----------------------------------------------------

# One state-store partition per ~32 MB of stream-source input. Streaming
# micro-batches run with AQE DISABLED (MicroBatchExecution), so nothing
# ever coalesces the session default of shuffle.partitions = core count:
# every stateful operator materializes that many state-store instances —
# each with its own per-micro-batch commit, snapshot and maintenance —
# regardless of how much data the stream actually carries. Deriving the
# count from input bytes is the streaming analog of AQE partition
# coalescing (guide §2: scale-adaptive partitioning, never a constant
# tuned for one deployment). Measured on the stream-stream interval join
# at sf0.1 (2 MB source, 32 cores): 11.4 s -> 3.0 s wall with identical
# output, the difference being 4x fewer state-store commits per batch.
_STREAM_BYTES_PER_PARTITION = 32 * 1024 * 1024
_STREAM_MIN_PARTITIONS = 4
_STREAM_SESSION_CACHE: dict[tuple[SparkSession, int], SparkSession] = {}


def _stream_session(
    spark: SparkSession, sf_dir: str, table: str = "events"
) -> SparkSession:
    """A session clone for streaming queries whose shuffle (= state
    store) partition count scales with the STREAM SOURCE's size instead
    of inheriting the batch session's core count, capped at
    defaultParallelism (on a real cluster, the executor-core total).
    Non-local sources (s3a://...) keep the caller's session
    untouched — there the store's split sizing governs and the safe
    default is the session's own configuration. Clones share the
    SparkContext (same executors). Memoized per (parent session, derived
    partition count): the clone copies its parent's time zone, so a
    clone made from one session must never serve another session's
    drains. The memo holds no data blocks, so ``clear_memos`` leaves it
    alone."""
    # Size from every file the stream source reads (its glob), not just
    # the table's first file.
    paths = glob.glob(f"{sf_dir}/{table}*.parquet")
    if not paths:
        return spark
    nbytes = sum(os.path.getsize(p) for p in paths)
    parts = min(
        max(_STREAM_MIN_PARTITIONS, -(-nbytes // _STREAM_BYTES_PER_PARTITION)),
        spark.sparkContext.defaultParallelism,
    )
    if int(spark.conf.get("spark.sql.shuffle.partitions")) == parts:
        return spark
    key = (spark, parts)
    cached = _STREAM_SESSION_CACHE.get(key)
    if cached is not None:
        return cached
    sess = _session_like(spark, {"spark.sql.shuffle.partitions": str(parts)})
    _STREAM_SESSION_CACHE[key] = sess
    return sess


def _session_like(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A new session on ``spark``'s SparkContext with ``conf`` set. newSession()
    re-reads only the context-level conf, so the shuffle partition count and
    the session-zone + nanos settings streaming correctness depends on are
    carried over first."""
    sess = spark.newSession()
    for k in ("spark.sql.shuffle.partitions", "spark.sql.session.timeZone"):
        sess.conf.set(k, spark.conf.get(k))
    sess.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for k, v in conf.items():
        sess.conf.set(k, v)
    return sess


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream source over the events table, its ``ts`` normalized by
    the batch ``load()``'s ``nanos_ts`` (watermarks require the
    session-zoned TIMESTAMP). Glob form: the file-stream source needs a directory basePath,
    which it infers from the non-glob path prefix. The raw schema is
    inferred once per session (``shared``): inferring it is a Spark job."""
    ensure_nanos_as_long(spark)
    schema = shared(
        spark,
        sf_dir,
        "events_schema",
        lambda: spark.read.parquet(f"{sf_dir}/events.parquet").schema,
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{sf_dir}/events*.parquet")
    )
    return nanos_ts(raw, "ts")


@register(
    "streaming_hourly_counts",
    """
SELECT event_type,
       date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       COUNT(*) AS cnt
FROM events
GROUP BY 1, 2, 3
""",
)
def q_streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch hourly rollup executed through Structured Streaming:
    parquet file source -> 1-hour tumbling window -> complete-mode memory
    sink, drained with Trigger.AvailableNow. Over static input the result
    equals the batch GROUP BY, which is the oracle. events.ts is stored as
    TIMESTAMP(NANOS), so the stream reads it as long and floors to
    microseconds exactly like the batch loader."""
    spark = _stream_session(spark, sf_dir)
    raw = _stream_events(spark, sf_dir)
    agg = (
        raw.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "event_type",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "cnt",
        )
    )
    return drain(agg, "complete")


@register(
    "range_window_revenue",
    """
SELECT o_custkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                  RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS revenue_90d
FROM orders
""",
)
def q_range_window_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per customer, the trailing-90-day order
    total. The frame is value-based (all rows within 90 days), not
    row-count-based — Spark's rangeBetween over a day-ordinal ordering
    column. One shuffle on o_custkey; the frame scan is linear per
    partition (two moving pointers)."""
    o = load(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-90, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("revenue_90d"),
    )


@register(
    "unpivot_roundtrip",
    f"""
WITH wide AS (
  SELECT event_type AS taxi_type,
         CAST(ts AS DATE) AS date,
         CAST(user_id AS VARCHAR) AS pickup_place,
         {", ".join(f"COUNT(*) FILTER (WHERE EXTRACT(hour FROM ts) = {h}) AS hour_{h}" for h in range(24))}
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2, 3
  HAVING COUNT(*) >= 2)
SELECT taxi_type, date, pickup_place,
       CAST(replace(hour_col, 'hour_', '') AS INT) AS hour,
       cnt
FROM wide
UNPIVOT (cnt FOR hour_col IN ({", ".join(f"hour_{h}" for h in range(24))}))
WHERE cnt > 0
""",
)
def q_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) the flagship wide table back to long form — proves
    the pivot is losslessly invertible. Spark's native unpivot emits the
    24 hour columns as (hour_col, cnt) pairs map-side, no shuffle."""
    from taxi_data_datapipeline_spark.operators.pivot import HOUR_COLUMNS
    from taxi_data_datapipeline_spark.queries_reference import MIN_RIDES, q_hourly_pivot

    wide = q_hourly_pivot(spark, sf_dir)
    long = wide.unpivot(
        ids=["taxi_type", "date", "pickup_place"],
        values=HOUR_COLUMNS,
        variableColumnName="hour_col",
        valueColumnName="cnt",
    )
    return long.filter(F.col("cnt") > 0).select(
        "taxi_type",
        "date",
        "pickup_place",
        F.replace(F.col("hour_col"), F.lit("hour_"), F.lit("")).cast("int").alias("hour"),
        "cnt",
    )


@register(
    "dedup_groups_cc",
    None,  # oracle injected below (needs queries_data shingle SQL)
)
def q_dedup_groups_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> dedup groups via iterative connected components
    (min-label propagation, operators/graphs.py). Edges are the verified
    MinHash-LSH pairs (jaccard >= 0.5); the oracle walks the same graph
    with a recursive CTE over the brute-force pair list. Non-SQL iterative
    control flow on the Spark side, still hash-checked."""
    from taxi_data_datapipeline_spark.operators.graphs import connected_components
    from taxi_data_datapipeline_spark.queries_data import lsh_pairs_cached

    pairs = lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(pairs)


def _install_cc_oracle() -> None:
    from taxi_data_datapipeline_spark.queries import ORACLES
    from taxi_data_datapipeline_spark.queries_data import _SQL_GRAMS, _SQL_JACCARD

    ORACLES["dedup_groups_cc"] = f"""
WITH RECURSIVE g AS (SELECT doc_id, {_SQL_GRAMS} AS grams FROM documents),
pairs AS (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {_SQL_JACCARD} AS jaccard
    FROM g a JOIN g b ON a.doc_id < b.doc_id)
  WHERE jaccard >= 0.5),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
walk AS (
  SELECT u AS node, u AS comp FROM edges
  UNION
  SELECT e.u, w.comp FROM edges e JOIN walk w ON e.v = w.node
  WHERE w.comp < e.u)
SELECT node, MIN(comp) AS comp FROM walk GROUP BY node
"""


_install_cc_oracle()


@register(
    "q14_promo_revenue",
    """
SELECT CAST(ROUND(100.00 * SUM(CAST(CASE WHEN p_type LIKE 'PROMO%'
                         THEN l_extendedprice * (1 - l_discount) ELSE 0 END
                    AS DECIMAL(18,4)))
           / SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 6)
       AS DOUBLE) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '1996-03-01' AND l_shipdate < DATE '1996-04-01'
""",
)
def q_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 analog: broadcast dim join + conditional decimal ratio."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 6)
            .cast("double")
            .alias("promo_revenue_pct")
        )
    )


@register(
    "q10_returned_revenue",
    """
SELECT c_custkey, c_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
         AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q_q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analog: 3-way join, revenue agg, deterministic top-20."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q17_small_quantity",
    """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) / 7.0, 6) AS DOUBLE)
         AS avg_yearly
FROM lineitem l1
JOIN (SELECT l_partkey AS pk, 0.2 * AVG(l_quantity) AS qty_limit
      FROM lineitem GROUP BY l_partkey) t
  ON l1.l_partkey = t.pk
WHERE l1.l_quantity < t.qty_limit
""",
)
def q_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 analog: correlated scalar subquery (per-part avg quantity)
    decorrelated into an aggregate + self-join — the plan Catalyst builds
    for the correlated SQL form."""
    li = load(spark, sf_dir, "lineitem")
    limits = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_limit")
    )
    return (
        li.join(limits.hint("shuffle_hash"), F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) / 7.0, 6)
            .cast("double")
            .alias("avg_yearly")
        )
    )


@register(
    "salted_event_totals",
    """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM events
GROUP BY event_type
""",
)
def q_salted_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over the (skew-prone) event_type key —
    operators/skew.py. Bit-identical to the plain GROUP BY (the oracle);
    the plan splits each key across 16 salt shards so no reducer ever owns
    a hot key's full input."""
    from taxi_data_datapipeline_spark.operators.skew import salted_count_sum

    ev = load(spark, sf_dir, "events")
    return salted_count_sum(ev, keys=["event_type"], sum_col="value", n_salts=16)


@register(
    "window_navigation",
    """
SELECT o_orderkey, o_custkey,
       LAG(o_totalprice) OVER w AS prev_price,
       LEAD(o_totalprice) OVER w AS next_price,
       FIRST_VALUE(o_totalprice) OVER w AS first_price,
       NTILE(4) OVER w AS quartile,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def q_window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation/distribution window surface in one pass: lag, lead,
    first_value, ntile, percent_rank share ONE window spec -> one shuffle
    on o_custkey, one sort per partition."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


@register(
    "funnel_conversion",
    """
WITH stages AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id)
SELECT COUNT(*) AS n_users,
       COUNT(t_view) AS viewed,
       COUNT(CASE WHEN t_click > t_view THEN 1 END) AS clicked_after_view,
       COUNT(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END)
         AS purchased_in_order
FROM stages
""",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase): per-user
    first-touch per stage via conditional MIN, then ordering predicates.
    One shuffle on user_id; the funnel counts are a map-side fold over the
    tiny per-user stage table."""
    ev = load(spark, sf_dir, "events")
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("viewed"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias("clicked_after_view"),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("purchased_in_order"),
    )


@register(
    "bigram_surprisal",
    r"""
WITH toks AS (
  SELECT doc_id, t.i AS pos, lower(tok[t.i]) AS w
  FROM (SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> x != '') AS tok
        FROM documents) d,
       UNNEST(range(1, len(tok) + 1)) AS t(i)),
bigrams AS (
  SELECT a.doc_id, a.w AS w1, b.w AS w2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
uni AS (SELECT w1 AS w, COUNT(*) AS c FROM bigrams GROUP BY 1),
bi AS (SELECT w1, w2, COUNT(*) AS c FROM bigrams GROUP BY 1, 2),
scored AS (
  SELECT g.doc_id,
         CAST(ROUND(-ln(CAST(bi.c AS DOUBLE) / uni.c), 9) AS DECIMAL(28,12)) AS s
  FROM bigrams g JOIN bi ON g.w1 = bi.w1 AND g.w2 = bi.w2
                 JOIN uni ON g.w1 = uni.w)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS avg_surprisal
FROM scored GROUP BY doc_id
""",
)
def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistical quality metric: average bigram surprisal
    -ln P(w2|w1) per document (high = unusual word transitions = noisy or
    non-prose text). Per-term surprisals round to 9 decimals and sum as
    DECIMAL so shuffle order cannot change the hash. Counts tables are
    vocabulary-sized -> Catalyst broadcasts them against the bigram
    stream."""
    docs = load(spark, sf_dir, "documents", fan_out=True)
    # Adjacent-pair construction via zip_with over shifted slices — no
    # positional self-join (which would shuffle the exploded tokens twice).
    toks = F.transform(
        F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != ""),
        lambda t: F.lower(t),
    )
    m = F.greatest(F.lit(0), F.size(toks) - 1)
    pairs = F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    bigrams = (
        docs.select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    uni = bigrams.groupBy(F.col("w1").alias("w")).agg(F.count(F.lit(1)).alias("uc"))
    bi = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("bc"))
    scored = (
        bigrams.join(bi.hint("shuffle_hash"), ["w1", "w2"])
        .join(uni.hint("shuffle_hash"), F.col("w1") == F.col("w"))
        .select(
            "doc_id",
            F.round(-F.log(F.col("bc").cast("double") / F.col("uc")), 9)
            .cast("decimal(28,12)")
            .alias("s"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum("s").cast("double") / F.count(F.lit(1)), 6).alias("avg_surprisal"),
    )


# --- resampling (the "bootstrap" of pivot_and_boostrap) -----------------------


@register(
    "jackknife_event_counts",
    """
WITH pb AS (
  SELECT event_type,
         CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 20 AS b,
         COUNT(*) AS c
  FROM events GROUP BY event_type, b
), m AS (
  SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(c * c) AS BIGINT) AS sum_c2
  FROM pb GROUP BY event_type
), s AS (
  SELECT event_type, n,
         SQRT(CAST(0.95 AS DOUBLE) *
              (CAST(sum_c2 AS DOUBLE) - CAST(n AS DOUBLE) * n / 20.0)) AS se_raw
  FROM m
)
SELECT event_type, n,
       se_raw AS se,
       n - 1.959964 * se_raw AS ci_lo,
       n + 1.959964 * se_raw AS ci_hi
FROM s
""",
)
def q_jackknife_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type count with a delete-one-bucket jackknife 95% CI —
    the resampling step the reference's package name promises
    (operators/resample.py module doc). One pass, two shuffles, exact
    integer moments -> bit-identical CIs on any engine."""
    from taxi_data_datapipeline_spark.operators.resample import jackknife_count_ci

    ev = load(spark, sf_dir, "events")
    return jackknife_count_ci(ev, ["event_type"], id_col="event_id", n_buckets=20)


@register(
    "jackknife_revenue_ci",
    """
WITH pb AS (
  SELECT o_orderstatus,
         CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 20 AS b,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sc
  FROM orders GROUP BY o_orderstatus, b
), d AS (
  SELECT o_orderstatus,
         20 * sc - SUM(sc) OVER (PARTITION BY o_orderstatus) AS dev,
         SUM(sc) OVER (PARTITION BY o_orderstatus) AS total_cents
  FROM pb
), m AS (
  SELECT o_orderstatus, MAX(total_cents) AS total_cents,
         SUM(CAST(dev AS DECIMAL(15,0)) * CAST(dev AS DECIMAL(19,0))) AS e2
  FROM d GROUP BY o_orderstatus
), st AS (
  SELECT o_orderstatus,
         CAST(total_cents AS DOUBLE) / 100.0 AS total,
         SQRT(CAST(0.002375 AS DOUBLE) * CAST(e2 AS DOUBLE) / 10000.0) AS se_raw
  FROM m
)
SELECT o_orderstatus, total, se_raw AS se,
       total - 1.959964 * se_raw AS ci_lo,
       total + 1.959964 * se_raw AS ci_hi
FROM st
""",
)
def q_jackknife_revenue_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue totals per order status with jackknife SE/CI: decimal
    partial sums (and decimal squared partials) keep every moment exact,
    so the assembled double CIs hash-match across engines."""
    from taxi_data_datapipeline_spark.operators.resample import jackknife_sum_ci

    o = load(spark, sf_dir, "orders")
    return jackknife_sum_ci(
        o, ["o_orderstatus"], id_col="o_orderkey", value=F.col("o_totalprice")
    )


@register(
    "hopping_window_counts",
    """
WITH offs AS (SELECT UNNEST([0, 1, 2, 3]) AS k),
b AS (
  SELECT date_trunc('hour', ts)
           + (CAST(FLOOR(EXTRACT(minute FROM ts) / 15) AS INT) * INTERVAL 15 MINUTE)
           AS b15,
         event_type, value
  FROM events
)
SELECT b.b15 - offs.k * INTERVAL 15 MINUTE AS window_start,
       b.event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(b.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM b, offs
GROUP BY 1, 2
""",
)
def q_hopping_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) window aggregation: 1-hour windows every 15
    minutes — the overlap-window shape the reference's tumbling hour
    bucket (pivot_all_files.py:154) cannot express. Spark's `window(ts,
    '1 hour', '15 minutes')` expands each row into its 4 covering
    windows before the hash aggregate (an Expand of factor
    length/slide); the oracle mirrors that expansion with an explicit
    0..3 offset cross join on the 15-minute floor bucket.

    Scale note: output cardinality is 4x the tumbling equivalent but the
    Expand is map-side — still ONE shuffle on (window, event_type). For
    long windows over fine slides (e.g. 24h/5m = 288x) prefer
    aggregate-per-slice then reaggregate; at 4x the direct form wins.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "cdc_log_compaction",
    """
WITH ranked AS (
  SELECT user_id, ts, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, ts AS last_ts, event_type AS last_op, value AS last_value
FROM ranked
WHERE rn = 1 AND event_type <> 'error'
""",
)
def q_cdc_log_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog compaction (MERGE-as-upsert): collapse an event log
    to the latest state per key, dropping keys whose final op is a
    tombstone ('error' stands in for DELETE). This is the batch kernel of
    a Delta/Hudi-style upsert: latest-wins by (ts, event_id).

    Implemented as max_by via a struct-ordered MAX — a single
    partial-aggregatable shuffle on user_id. The window-rank formulation
    the oracle uses would SORT every partition by (user_id, ts); the
    struct-MAX needs no sort and combines map-side, which at 100 TB is
    the difference between a running job and a spilling one. (ts,
    event_id) is unique, so comparison never falls through to the
    payload fields and both forms pick the same row."""
    ev = load(spark, sf_dir, "events")
    latest = ev.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type", "value")).alias("s")
    )
    return (
        latest.filter(F.col("s.event_type") != "error")
        .select(
            "user_id",
            F.col("s.ts").alias("last_ts"),
            F.col("s.event_type").alias("last_op"),
            F.col("s.value").alias("last_value"),
        )
    )


@register(
    "gapfill_locf",
    """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS day_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), bounds AS (
  SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily
), cal AS (
  SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
  FROM bounds
), grid AS (
  SELECT u.user_id, c.d
  FROM (SELECT DISTINCT user_id FROM daily) u CROSS JOIN cal c
)
SELECT g.user_id, g.d, daily.day_value,
       last_value(daily.day_value IGNORE NULLS)
         OVER (PARTITION BY g.user_id ORDER BY g.d) AS locf_value
FROM grid g
LEFT JOIN daily ON daily.user_id = g.user_id AND daily.d = g.d
""",
)
def q_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill with last-observation-carried-forward — the
    hypertable/timeseries resample shape (TimescaleDB time_bucket_gapfill
    + locf). Sparse per-user daily revenue becomes a dense user x day
    grid; missing days inherit the previous observed value.

    The calendar is `sequence(min_d, max_d)` exploded from a 1-row
    aggregate broadcast against the distinct-user dim — no driver-side
    collect, no literal dates baked into the plan, so the same query runs
    on any time range. LOCF is `last(value, ignoreNulls)` over an
    unbounded-preceding row frame: one shuffle on user_id, linear scan
    per partition. At 100 TB the grid explode multiplies rows by
    days/user, so the fill runs AFTER aggregation to daily grain —
    cardinality is bounded by users x days, not raw events."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("day_value")
        )
    )
    cal = (
        daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("d"))
    )
    users = daily.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(cal))
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily.hint("shuffle_hash"), ["user_id", "d"], "left")
        .select(
            "user_id",
            "d",
            "day_value",
            F.last("day_value", ignorenulls=True).over(w).alias("locf_value"),
        )
    )


@register(
    "skew_join_salted",
    """
SELECT c.c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
GROUP BY c.c_mktsegment
""",
)
def q_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicitly salted fact-dim join: the hot-key defense when the big
    side's join key is skewed (a handful of power users own most events)
    and the dim is too large to broadcast outright. The fact side gets a
    uniform salt from hash(event_id) mod 8; the dim side is replicated
    once per salt value via explode(sequence) — the join key becomes
    (key, salt), splitting each hot key across 8 reducers.

    Here customer WOULD broadcast (AQE's answer to this dim size), so
    the salt path is forced with a broadcast-threshold hint-free shuffle
    join via `hint("shuffle_hash")` — the point is the technique's
    correctness, proven by the plain-join oracle: salting is invisible
    in the result. At real scale the 8x dim replication trades shuffle
    volume for even reducer occupancy; AQE skew-join split is the
    built-in alternative when the dim must sort-merge."""
    ev = load(spark, sf_dir, "events")
    c = load(spark, sf_dir, "customer")
    n_salt = 8
    ev_s = ev.withColumn("salt", F.pmod(F.hash("event_id"), F.lit(n_salt)))
    c_s = c.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    joined = ev_s.join(
        c_s.hint("shuffle_hash"),
        (ev_s.user_id == c_s.c_custkey) & (ev_s.salt == c_s.salt),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
    )


@register(
    "ohlc_bars",
    """
WITH t AS (
  SELECT date_trunc('day', ts)
           + (CAST(FLOOR(EXTRACT(hour FROM ts) / 6) AS INT) * INTERVAL 6 HOUR)
           AS bucket,
         event_type, ts, event_id, value
  FROM events
), w AS (
  SELECT bucket, event_type, value,
         first_value(value) OVER (PARTITION BY bucket, event_type
                                  ORDER BY ts, event_id) AS open_v,
         first_value(value) OVER (PARTITION BY bucket, event_type
                                  ORDER BY ts DESC, event_id DESC) AS close_v
  FROM t
)
SELECT bucket, event_type,
       MAX(open_v) AS open, MAX(value) AS high,
       MIN(value) AS low, MAX(close_v) AS close,
       COUNT(*) AS n_ticks
FROM w GROUP BY 1, 2
""",
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style OHLC downsample: open/high/low/close per 6-hour
    bucket per series — the continuous-aggregate rollup every
    time-series store ships (TimescaleDB candlestick, kdb xbar).

    open/close are min_by/max_by over the UNIQUE composite order (ts,
    event_id) — a single partial-aggregatable shuffle, no sort, no
    window. The oracle can't express composite arg_min, so it uses
    first_value windows; same tie-break, hash-identical result. At 100 TB
    the min_by form matters: windows sort every partition, min_by folds
    map-side."""
    ev = load(spark, sf_dir, "events")
    ord_key = F.struct("ts", "event_id")
    bucket = F.timestamp_seconds(
        (F.unix_timestamp("ts") / F.lit(21600)).cast("long") * F.lit(21600)
    )
    return (
        ev.groupBy(bucket.alias("bucket"), "event_type")
        .agg(
            F.min_by("value", ord_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ord_key).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )


@register(
    "token_entropy",
    r"""
WITH toks AS (
  SELECT doc_id, lower(x) AS w
  FROM (SELECT doc_id,
               UNNEST(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS x
        FROM documents)
), cnt AS (
  SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY 1, 2
), tot AS (
  SELECT doc_id, SUM(c) AS n, COUNT(*) AS n_types FROM cnt GROUP BY 1
)
SELECT c.doc_id,
       CAST(MAX(t.n) AS BIGINT) AS n_tokens,
       MAX(t.n_types) AS n_types,
       ROUND(CAST(SUM(CAST(ROUND(-(CAST(c.c AS DOUBLE) / t.n)
                                   * ln(CAST(c.c AS DOUBLE) / t.n), 9)
                           AS DECIMAL(28,12))) AS DOUBLE), 6) AS token_entropy
FROM cnt c JOIN tot t ON c.doc_id = t.doc_id
GROUP BY c.doc_id
""",
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution — the
    information-theoretic gibberish/boilerplate detector of a curation
    pipeline (low entropy = repetitive template text, high = diverse
    prose). Per-token terms -(p ln p) round to 9 decimals and sum as
    DECIMAL so shuffle order cannot move the hash (the bigram_surprisal
    convention).

    Token counts aggregate once on (doc_id, token); the per-doc total is
    a window SUM over that compact aggregate (integer sum — exact), so
    raw tokens shuffle exactly once."""
    docs = load(spark, sf_dir, "documents", fan_out=True)
    toks = F.transform(
        F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != ""),
        lambda t: F.lower(t),
    )
    cnt = (
        docs.select("doc_id", F.explode(toks).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wd = Window.partitionBy("doc_id")
    cnt = cnt.withColumn("n", F.sum("c").over(wd)).withColumn(
        "n_types", F.count(F.lit(1)).over(wd)
    )
    p = F.col("c").cast("double") / F.col("n")
    term = F.round(-p * F.log(p), 9).cast("decimal(28,12)")
    return cnt.groupBy("doc_id").agg(
        F.max("n").alias("n_tokens"),
        F.max("n_types").alias("n_types"),
        F.round(F.sum(term).cast("double"), 6).alias("token_entropy"),
    )


@register(
    "anomaly_mad",
    """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1
), dev AS (
  SELECT e.event_type, e.value, ABS(e.value - m.med) AS adev, m.med
  FROM events e JOIN med m ON e.event_type = m.event_type
), mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1
)
SELECT d.event_type,
       COUNT(*) AS n_outliers,
       ROUND(MIN(d.value), 6) AS min_outlier,
       ROUND(MAX(d.value), 6) AS max_outlier
FROM dev d JOIN mad m ON d.event_type = m.event_type
WHERE d.adev > 3 * 1.4826 * m.mad
GROUP BY d.event_type
""",
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    data-quality gate that survives the very outliers it hunts (stddev
    z-scores get dragged by the tail; MAD doesn't). Flags values beyond
    3 robust sigmas (1.4826 * MAD).

    Two exact-percentile passes (median, then median-of-deviations),
    each a tiny per-group aggregate broadcast back against the stream —
    no sort of the fact table, no driver collect. Spark `percentile` and
    DuckDB `quantile_cont` share the (n-1)p interpolation, so the
    thresholds are bit-comparable; value distributions are continuous,
    keeping the > comparison off the knife edge."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    # deviation stream feeds the MAD aggregate AND the outlier filter —
    # materialize so the scan + median join runs once, not twice (and
    # the per-type median isn't re-aggregated per consumer).
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    ).localCheckpoint(eager=True)
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("adev") > 3 * 1.4826 * F.col("mad"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_outliers"),
            F.round(F.min("value"), 6).alias("min_outlier"),
            F.round(F.max("value"), 6).alias("max_outlier"),
        )
    )


@register("approx_percentile_prices")  # sketch output is engine-specific -> rows-only
def q_approx_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-memory percentile path for 100 TB: Greenwald-Khanna
    style approximate quantiles (`approx_percentile`, accuracy 10000 ->
    error <= 1/10000 of rank). Exact `percentile` materializes every
    group's values; the sketch is fixed-size per group and merges
    map-side. Sketch internals differ per engine, so the gate is
    rows-only; `tests/test_sketches.py` bounds the rank error against
    the exact result."""
    li = load(spark, sf_dir, "lineitem")
    ps = [0.25, 0.5, 0.75, 0.99]
    arr = F.approx_percentile(
        "l_extendedprice", F.array(*[F.lit(p) for p in ps]), F.lit(10000)
    )
    agg = li.groupBy("l_returnflag").agg(arr.alias("_ps"))
    return agg.select(
        "l_returnflag",
        *[
            F.element_at("_ps", i + 1).alias(f"ap{int(p*100)}")
            for i, p in enumerate(ps)
        ],
    )


_PROFILE_COLS = [
    ("o_orderkey", "decimal(18,2)"),
    ("o_custkey", "decimal(18,2)"),
    ("o_orderstatus", None),
    ("o_totalprice", "decimal(18,2)"),
    ("o_orderdate", "date"),
    ("o_orderpriority", None),
]


def _profile_oracle() -> str:
    parts = []
    for c, cast in _PROFILE_COLS:
        expr = c if cast is None else f"CAST({c} AS {cast.upper()})"
        parts.append(
            f"""SELECT '{c}' AS column_name,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({expr}) AS STRING) AS min_value,
       CAST(MAX({expr}) AS STRING) AS max_value
FROM orders"""
        )
    return "\nUNION ALL\n".join(parts)


@register("table_profile", _profile_oracle())
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style column profiler: null count, exact distinct count, and
    min/max per column of `orders`, one row per column — the first thing
    a pipeline runs on an unknown 100 TB delivery.

    Single scan: all 6x3 aggregates in ONE agg (Catalyst Expands the
    input 6x for the multi-distinct — the documented trade for a
    profiler, where per-column distincts are the product; the
    alternative is 6 cached-scan jobs). The wide 1-row result unpivots
    to rows via stack(). min/max stringify through DECIMAL/DATE casts so
    both engines format identically (raw double->string differs)."""
    o = load(spark, sf_dir, "orders", fan_out=True)
    aggs = []
    for c, cast in _PROFILE_COLS:
        col = F.col(c)
        typed = col if cast is None else col.cast(cast)
        aggs += [
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.countDistinct(col).alias(f"{c}__nd"),
            F.min(typed).cast("string").alias(f"{c}__min"),
            F.max(typed).cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__nd, {c}__min, {c}__max" for c, _ in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(column_name, n_nulls, n_distinct, min_value, max_value)"
        )
    )


_DQ_RULES = [
    ("totalprice_nonnegative", "o_totalprice >= 0"),
    ("orderdate_present", "o_orderdate IS NOT NULL"),
    ("status_in_domain", "o_orderstatus IN ('O', 'F', 'P')"),
    ("priority_wellformed", "o_orderpriority LIKE '%-%'"),
    ("custkey_in_range", "o_custkey >= 0"),
]


@register(
    "dq_checks",
    "SELECT rule_name, n_violations FROM ("
    + " UNION ALL ".join(
        f"SELECT '{name}' AS rule_name, "
        f"CAST(SUM(CASE WHEN NOT ({cond}) OR ({cond}) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations "
        "FROM orders"
        for name, cond in _DQ_RULES
    )
    + ") t",
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate: each rule is a boolean SQL predicate;
    the output is violations-per-rule (NULL predicate counts as a
    violation — deequ/Great Expectations semantics). All rules evaluate
    in ONE conditional-aggregate pass (no per-rule scans), then unpivot
    via stack — adding a rule is a list entry, not a new job."""
    o = load(spark, sf_dir, "orders")
    aggs = [
        F.sum(
            F.when(~F.expr(cond) | F.expr(cond).isNull(), 1).otherwise(0)
        ).alias(f"r{i}")
        for i, (_, cond) in enumerate(_DQ_RULES)
    ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(f"'{name}', r{i}" for i, (name, _) in enumerate(_DQ_RULES))
    return wide.select(
        F.expr(
            f"stack({len(_DQ_RULES)}, {stack_args}) AS (rule_name, n_violations)"
        )
    )


@register(
    "streaming_hopping_counts",
    """
WITH offs AS (SELECT UNNEST([0, 1, 2, 3]) AS k),
b AS (
  SELECT date_trunc('hour', ts)
           + (CAST(FLOOR(EXTRACT(minute FROM ts) / 15) AS INT) * INTERVAL 15 MINUTE)
           AS b15,
         event_type, value
  FROM events
)
SELECT b.b15 - offs.k * INTERVAL 15 MINUTE AS window_start,
       b.event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(b.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM b, offs
GROUP BY 1, 2
""",
)
def q_streaming_hopping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sliding-window rollup executed through Structured Streaming:
    1-hour windows every 15 minutes with a 2-hour watermark, drained
    with Trigger.AvailableNow into a complete-mode memory sink. Over
    static input the stream equals the batch `hopping_window_counts`,
    which is the oracle — the overlap Expand and the windowed state
    store both happen incrementally per micro-batch, state bounded by
    watermark horizon x 4 open windows per slide."""
    spark = _stream_session(spark, sf_dir)
    raw = _stream_events(spark, sf_dir)
    agg = (
        raw.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return drain(agg, "complete")


@register(
    "streaming_cdc_compaction",
    """
WITH ranked AS (
  SELECT user_id, ts, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, ts AS last_ts, event_type AS last_op, value AS last_value
FROM ranked
WHERE rn = 1 AND event_type <> 'error'
""",
)
def q_streaming_cdc_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC latest-state view maintained INCREMENTALLY over an
    unbounded changelog: the same struct-ordered MAX as the batch
    `cdc_log_compaction`, but as a streaming complete-mode aggregate —
    per-key state is ONE struct, updated in place each micro-batch (vs
    re-ranking the log). Over static input it equals the batch oracle.
    This is the materialized-view form of MERGE: downstream readers see
    the current row per key at every trigger."""
    spark = _stream_session(spark, sf_dir)
    raw = _stream_events(spark, sf_dir)
    latest = raw.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type", "value")).alias("s")
    )
    out = (
        latest.filter(F.col("s.event_type") != "error")
        .select(
            "user_id",
            F.col("s.ts").alias("last_ts"),
            F.col("s.event_type").alias("last_op"),
            F.col("s.value").alias("last_value"),
        )
    )
    return drain(out, "complete")


@register(
    "retention_cohorts",
    """
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), hits AS (
  SELECT f.cohort_date,
         CAST((a.d - f.cohort_date) // 7 AS INT) AS week_n,
         a.user_id
  FROM firsts f JOIN activity a ON f.user_id = a.user_id
), sizes AS (
  SELECT cohort_date, COUNT(*) AS cohort_size FROM firsts GROUP BY cohort_date
)
SELECT h.cohort_date, h.week_n,
       COUNT(DISTINCT h.user_id) AS active_users,
       s.cohort_size,
       ROUND(COUNT(DISTINCT h.user_id) * 1.0 / s.cohort_size, 6) AS retention
FROM hits h JOIN sizes s ON h.cohort_date = s.cohort_date
GROUP BY h.cohort_date, h.week_n, s.cohort_size
""",
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen date, activity
    bucketed into weeks since signup, retention = active/cohort-size —
    the product-analytics staple (and a two-level self-aggregation
    pattern: min-date per key, re-join, distinct-count per bucket).

    Plan: ONE shuffle of user-grain data. Each user's active-day set is
    collected in a single groupBy(user_id) (bounded by the analysis
    horizon — 30ish dates, not raw events); cohort date, week buckets,
    and per-user dedup all derive from that array map-side. What's left
    to shuffle afterwards is (cohort, week) counts and the tiny
    cohort-size dim — no distinct-count Expand, no re-join of the
    activity fact (the window-and-join formulation costs 6 exchanges;
    this one costs 3, two of them aggregate-sized)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    per_user = ev.groupBy("user_id").agg(F.collect_set("d").alias("days"))
    per_user = per_user.withColumn("cohort_date", F.array_min("days"))
    weeks = per_user.select(
        "cohort_date",
        F.explode(
            F.array_distinct(
                F.transform(
                    "days",
                    lambda d: (
                        F.datediff(d, F.col("cohort_date")) / 7
                    ).cast("int"),
                )
            )
        ).alias("week_n"),
    )
    sizes = per_user.groupBy("cohort_date").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        weeks.groupBy("cohort_date", "week_n")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .join(F.broadcast(sizes), "cohort_date")
        .select(
            "cohort_date",
            "week_n",
            "active_users",
            "cohort_size",
            F.round(F.col("active_users") / F.col("cohort_size"), 6).alias(
                "retention"
            ),
        )
    )


@register("hll_daily_rollup")  # sketch bytes are engine-specific -> rows-only
def q_hll_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch REAGGREGATION — the pattern that makes distinct counts
    feasible at 100 TB: build one Datasketches HLL per (event_type, day)
    (pre-computable, incrementally maintainable), then answer the
    per-type total by UNIONING sketches instead of re-scanning raw
    events. `hll_union_agg` merges register arrays; the estimate is
    within HLL error of the exact distinct (bounded in
    tests/test_sketches.py). No cross-engine oracle: sketch binaries are
    engine-specific."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        F.sum("n_events").alias("n_events"),
    )


@register(
    "grid_density_join",
    """
WITH pts AS (
  SELECT CAST(FLOOR((value * 0.01 + 40.0) * 100) AS INT) AS cx,
         CAST(FLOOR((value * -0.02 - 73.0) * 100) AS INT) AS cy
  FROM events
), cnt AS (
  SELECT cx, cy, COUNT(*) AS n FROM pts GROUP BY cx, cy
), offs AS (
  SELECT a.dx, b.dy
  FROM (SELECT UNNEST([-1, 0, 1]) AS dx) a,
       (SELECT UNNEST([-1, 0, 1]) AS dy) b
), spread AS (
  SELECT cnt.cx + offs.dx AS nx, cnt.cy + offs.dy AS ny, cnt.n
  FROM cnt, offs
)
SELECT c.cx, c.cy, c.n AS n_events, CAST(SUM(s.n) AS BIGINT) AS neighborhood_events
FROM cnt c JOIN spread s ON s.nx = c.cx AND s.ny = c.cy
GROUP BY c.cx, c.cy, c.n
""",
)
def q_grid_density_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial neighbor-cell density: events bucketed into a ~1.1 km
    lat/lon grid (the reference's F6 rounding as CELLS, pivot_all_files.
    py:113-119); each occupied cell reports its own count plus the 3x3
    neighborhood total — the local-density feature behind zone demand
    maps and spatial outlier detection.

    The join NEVER touches raw points twice: points aggregate to cells
    first, then each cell SPREADS its count to 9 neighbor keys (map-side
    explode of a tiny offset array) and re-aggregates — a convolution as
    agg->explode->agg, cost O(cells x 9), not a distance self-join.
    Same double arithmetic in both engines -> identical cell ids."""
    ev = load(spark, sf_dir, "events")
    cx = F.floor((F.col("value") * 0.01 + 40.0) * 100).cast("int")
    cy = F.floor((F.col("value") * -0.02 - 73.0) * 100).cast("int")
    cnt = (
        ev.select(cx.alias("cx"), cy.alias("cy"))
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    spread = (
        cnt.select("cx", "cy", "n", F.explode(offs).alias("o"))
        .select(
            (F.col("cx") + F.col("o.dx")).alias("nx"),
            (F.col("cy") + F.col("o.dy")).alias("ny"),
            "n",
        )
        .groupBy("nx", "ny")
        .agg(F.sum("n").alias("neighborhood_events"))
    )
    return (
        cnt.join(
            spread, (cnt.cx == spread.nx) & (cnt.cy == spread.ny)
        )
        .select("cx", "cy", F.col("n").alias("n_events"), "neighborhood_events")
    )


@register(
    "value_histogram",
    """
WITH b AS (
  SELECT event_type,
         LEAST(CAST(FLOOR(value / 25.0) AS INT), 19) AS bin
  FROM events
)
SELECT event_type, bin,
       bin * 25.0 AS bin_lo,
       COUNT(*) AS n
FROM b GROUP BY event_type, bin
""",
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram per series (25-unit bins, last bin open) —
    the distribution profile behind data-drift checks and bin-packed
    charts. One conditional projection + one shuffle of (series, bin)
    counts; bin edges are exact double multiples of 25 so FLOOR is
    boundary-safe in both engines (values land on edges only at exact
    .00 prices, where v/25.0 is exact)."""
    ev = load(spark, sf_dir, "events")
    bin_ = F.least(F.floor(F.col("value") / 25.0).cast("int"), F.lit(19))
    return (
        ev.groupBy("event_type", bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "bin",
            (F.col("bin") * 25.0).alias("bin_lo"),
            "n",
        )
    )


@register(
    "streaming_session_windows",
    """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events),
sess AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM sess
GROUP BY user_id, session_id
""",
)
def q_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in `session_window` running in STREAMING mode: dynamic-gap
    sessions merge inside the state store as micro-batches arrive, the
    watermark closes sessions whose gap has provably passed. Same
    gaps-and-islands oracle as the batch `session_window_native` —
    stream == batch over static input, completing the sessionization
    ladder (manual windows, batch built-in, applyInPandasWithState,
    transformWithState, and now the built-in under streaming)."""
    spark = _stream_session(spark, sf_dir)
    raw = _stream_events(spark, sf_dir)
    agg = (
        raw.withWatermark("ts", "2 hours")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
    return drain(agg, "complete")


@register(
    "gapfill_interp",
    """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS day_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), bounds AS (
  SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily
), cal AS (
  SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
  FROM bounds
), grid AS (
  SELECT u.user_id, c.d
  FROM (SELECT DISTINCT user_id FROM daily) u CROSS JOIN cal c
), joined AS (
  SELECT g.user_id, g.d, daily.day_value FROM grid g
  LEFT JOIN daily ON daily.user_id = g.user_id AND daily.d = g.d
), ctx AS (
  SELECT user_id, d, day_value,
         last_value(day_value IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY d) AS pv,
         last_value(CASE WHEN day_value IS NOT NULL THEN d END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY d) AS pd,
         first_value(day_value IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY d
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN day_value IS NOT NULL THEN d END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY d
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM joined
)
SELECT user_id, d, day_value,
       ROUND(CASE
         WHEN day_value IS NOT NULL THEN day_value
         WHEN pv IS NULL THEN nv
         WHEN nv IS NULL THEN pv
         ELSE pv + (nv - pv) * ((d - pd) * 1.0 / (nd - pd))
       END, 6) AS interp_value
FROM ctx
""",
)
def q_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill — the continuous counterpart of
    `gapfill_locf` (TimescaleDB `interpolate()`): a missing day takes the
    line between its previous and next observations, weighted by day
    distance; leading/trailing gaps fall back to nearest-edge.

    Two IGNORE-NULLS window scans (backward last, forward first) over
    the dense user x day grid — same single user_id shuffle as the LOCF
    variant, one extra linear pass per partition for the forward frame.
    The interpolation weight is an exact integer day ratio, so both
    engines compute identical doubles before the ROUND."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("day_value")
        )
    )
    cal = (
        daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("d"))
    )
    grid = daily.select("user_id").distinct().crossJoin(F.broadcast(cal))
    joined = grid.join(daily.hint("shuffle_hash"), ["user_id", "d"], "left")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_d = F.when(F.col("day_value").isNotNull(), F.col("d"))
    ctx = joined.select(
        "user_id",
        "d",
        "day_value",
        F.last("day_value", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_d, ignorenulls=True).over(wb).alias("pd"),
        F.first("day_value", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_d, ignorenulls=True).over(wf).alias("nd"),
    )
    frac = F.datediff(F.col("d"), F.col("pd")) / F.datediff(F.col("nd"), F.col("pd"))
    interp = (
        F.when(F.col("day_value").isNotNull(), F.col("day_value"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
    )
    return ctx.select(
        "user_id", "d", "day_value", F.round(interp, 6).alias("interp_value")
    )


@register(
    "asof_nearest_purchase",
    """
WITH v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
     p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
     b AS (
       SELECT v.event_id, v.user_id, v.ts, pb.ts AS back_ts
       FROM v ASOF LEFT JOIN p pb
         ON v.user_id = pb.user_id AND pb.ts <= v.ts
     ), f AS (
       SELECT v.event_id, pf.ts AS fwd_ts
       FROM v ASOF LEFT JOIN p pf
         ON v.user_id = pf.user_id AND pf.ts >= v.ts
     )
SELECT b.event_id, b.user_id, b.ts AS view_ts,
       CASE
         WHEN b.back_ts IS NULL THEN f.fwd_ts
         WHEN f.fwd_ts IS NULL THEN b.back_ts
         WHEN (b.ts - b.back_ts) <= (f.fwd_ts - b.ts) THEN b.back_ts
         ELSE f.fwd_ts
       END AS nearest_purchase_ts
FROM b JOIN f ON b.event_id = f.event_id
""",
)
def q_asof_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (pandas merge_asof
    direction='nearest'): each view pairs with the temporally CLOSEST
    purchase by the same user, before or after, ties to the earlier one.
    Composed from the engine's backward and forward single-shuffle as-of
    kernels (operators/asof.py) + a pick on absolute distance — the
    composition stays deterministic because each direction is
    deterministic and the tie rule is explicit. Oracle: two DuckDB
    native ASOF joins + the same CASE."""
    from taxi_data_datapipeline_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    back = asof_join(
        views, purchases, on=["user_id"], left_ts="ts", right_ts="ts", right_cols=[]
    ).select("event_id", "user_id", "ts", F.col("ts_asof").alias("back_ts"))
    fwd = asof_join(
        views,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=[],
        direction="forward",
    ).select("event_id", F.col("ts_asof").alias("fwd_ts"))
    j = back.join(fwd.hint("shuffle_hash"), "event_id")
    back_d = F.col("ts").cast("double") - F.col("back_ts").cast("double")
    fwd_d = F.col("fwd_ts").cast("double") - F.col("ts").cast("double")
    nearest = (
        F.when(F.col("back_ts").isNull(), F.col("fwd_ts"))
        .when(F.col("fwd_ts").isNull(), F.col("back_ts"))
        .when(back_d <= fwd_d, F.col("back_ts"))
        .otherwise(F.col("fwd_ts"))
    )
    return j.select(
        "event_id",
        "user_id",
        F.col("ts").alias("view_ts"),
        nearest.alias("nearest_purchase_ts"),
    )


@register(
    "streaming_dim_enrichment",
    """
SELECT c.c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
GROUP BY c.c_mktsegment
""",
)
def q_streaming_dim_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join — the enrichment pattern: an unbounded event
    stream joins a STATIC dimension snapshot (no watermark needed on the
    static side; Spark broadcasts or re-reads it per micro-batch), then
    aggregates. Completes the streaming join matrix next to the
    stream-stream interval join (streaming/joins.py). Over static input
    the result equals the batch join, which is the oracle — and the
    same plain SQL the salted batch variant (`skew_join_salted`)
    verifies against, proving batch, salted-batch, and streaming
    formulations all agree."""
    spark = _stream_session(spark, sf_dir)
    raw = _stream_events(spark, sf_dir)
    dim = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        raw.join(F.broadcast(dim), raw.user_id == dim.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    return drain(agg, "complete")


# --- Markov transition matrix -------------------------------------------------


@register(
    "markov_transitions",
    """
WITH seq AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events)
SELECT from_type, to_type, COUNT(*) AS n,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY from_type), 6) AS prob
FROM seq WHERE to_type IS NOT NULL
GROUP BY from_type, to_type
""",
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences
    — the behavioral model behind next-action prediction and anomalous-
    session scoring. lead() inside each user's timeline (ordered by ts
    with event_id tie-break) pairs each event with its successor; one
    groupBy counts the (from, to) cells.

    The row-normalizing SUM runs as a window over the already-aggregated
    k x k matrix (25 cells here), partitioned by from_type — the
    windows-over-aggregates shape that shuffles aggregate-sized rows,
    never raw events. The per-user lead() shuffles once on user_id; at
    100 TB that is the same exchange sessionization pays and partitions
    uniformly (user_id is high-cardinality).
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    cells = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    wrow = Window.partitionBy("from_type")
    return cells.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wrow), 6).alias("prob"),
    )


# --- SCD type-2 history build -------------------------------------------------


@register(
    "scd2_history",
    """
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
runs AS (
  SELECT user_id, event_type, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run_id
  FROM seq),
collapsed AS (
  SELECT user_id, run_id, event_type,
         MIN(ts) AS valid_from, COUNT(*) AS n_events
  FROM runs GROUP BY user_id, run_id, event_type)
SELECT user_id, CAST(run_id AS BIGINT) AS version, event_type,
       valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to,
       n_events,
       CAST(CASE WHEN LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
                 IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_current
FROM collapsed
""",
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: collapse each user's event
    stream into versioned state intervals (gaps-and-islands). A change
    flag fires when the state differs from its predecessor (null-safe so
    the first row of every user starts run 0 without a special case), a
    running sum numbers the runs, a groupBy collapses each run to its
    first timestamp, and lead() closes each interval with the next run's
    start — the standard half-open [valid_from, valid_to) convention with
    NULL valid_to marking the current row.

    All three windows and the groupBy share the user_id partitioning, so
    Spark plans ONE exchange on user_id and keeps the sorts local (the
    second window's (user_id, run_id) ordering is a prefix-compatible
    local re-sort, and the collapsed table is runs-sized, not
    events-sized). That single-shuffle property is what makes the build
    viable on a 100 TB event log.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type"))
    ).cast("int")
    runs = ev.select(
        "user_id", "event_type", "ts",
        F.sum(chg).over(w).alias("run_id"),
    )
    collapsed = runs.groupBy("user_id", "run_id", "event_type").agg(
        F.min("ts").alias("valid_from"), F.count(F.lit(1)).alias("n_events")
    )
    w2 = Window.partitionBy("user_id").orderBy("run_id")
    valid_to = F.lead("valid_from").over(w2)
    return collapsed.select(
        "user_id",
        F.col("run_id").cast("long").alias("version"),
        "event_type",
        "valid_from",
        valid_to.alias("valid_to"),
        "n_events",
        valid_to.isNull().cast("int").alias("is_current"),
    )


# --- linear regression via exact sufficient statistics ------------------------


@register(
    "regr_fit",
    """
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity * 100 AS DECIMAL(38,0))) AS DOUBLE) / 100 AS sx,
         CAST(SUM(CAST(l_extendedprice * 100 AS DECIMAL(38,0))) AS DOUBLE) / 100 AS sy,
         CAST(SUM(CAST(l_quantity * l_quantity * 10000 AS DECIMAL(38,0))) AS DOUBLE)
           / 10000 AS sxx,
         CAST(SUM(CAST(l_quantity * l_extendedprice * 10000 AS DECIMAL(38,0))) AS DOUBLE)
           / 10000 AS sxy,
         CAST(SUM(CAST(l_extendedprice * l_extendedprice * 10000 AS DECIMAL(38,0))) AS DOUBLE)
           / 10000 AS syy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, n,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept,
       ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM s
""",
)
def q_regr_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary-least-squares fit of extendedprice against quantity per
    return flag, from exact sufficient statistics: the five sums (Sx, Sy,
    Sxx, Sxy, Syy) are accumulated as scale-0 DECIMALs (inputs have <= 2
    decimal places, so x*100 and cross-products*10000 are integers that
    the double products represent exactly), making the reduction
    order-independent; slope/intercept/R^2 are then closed-form doubles
    computed with the identical IEEE expression on both engines. Only
    scale-0 decimals are converted to double (a scale>0 conversion
    differs across engines by ulps — engine parity convention).

    One aggregation, map-side partials, 3 output rows: the canonical
    'model fit as an aggregate' shape that needs no driver-side math and
    no second pass at any data size.
    """
    li = load(spark, sf_dir, "lineitem", fan_out=True)
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum((x * 100).cast("decimal(38,0)")).cast("double") / 100).alias("sx"),
        (F.sum((y * 100).cast("decimal(38,0)")).cast("double") / 100).alias("sy"),
        (F.sum((x * x * 10000).cast("decimal(38,0)")).cast("double") / 10000).alias("sxx"),
        (F.sum((x * y * 10000).cast("decimal(38,0)")).cast("double") / 10000).alias("sxy"),
        (F.sum((y * y * 10000).cast("decimal(38,0)")).cast("double") / 10000).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    cov_n = n * sxy - sx * sy
    var_n = n * sxx - sx * sx
    slope = cov_n / var_n
    return s.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round((cov_n * cov_n) / (var_n * (n * syy - sy * sy)), 6).alias("r2"),
    )


# --- graph analytics over the co-purchase graph -------------------------------

_EDGE_CTE = """
li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey)
"""


def _copurchase_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (a < b) part co-purchase pairs WITH their order-support
    count: parts appearing in the same order. One groupBy collects each
    order's (small, <= 7-element) sorted part set; pairs are generated
    array-side with a nested transform — O(orders * k^2) work with no
    join at all — then one count aggregate both dedups across orders and
    records support. Two shuffles total (basket build + pair agg) versus
    four for the equivalent self-join formulation, and the per-order
    bound k keeps the intermediate linear in the table.

    The materialized pair-count table is memoized per session —
    the triangle census, PageRank AND the support-thresholded community
    detection all derive their edge list from it with a map-side
    project/filter, and a shared graph is exactly what a production
    pipeline would persist between analyses (the engine's
    materialized-CTE layer, same idea as the scan memo in queries.py).
    The build is localCheckpointed so each consumer's own multi-pass
    logic doesn't re-run the pair generation either."""

    def build() -> DataFrame:
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        baskets = li.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_set("l_partkey")).alias("ps")
        )
        pairs = F.expr(
            "flatten(transform(ps, (x, i) -> "
            "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS a, y AS b))))"
        )
        return (
            baskets.select(F.explode(pairs).alias("p"))
            .select("p.a", "p.b")
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("support"))
            .localCheckpoint(eager=True)
        )

    return shared(spark, sf_dir, "copurchase_pair_counts", build)


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct co-purchase edges: map-side projection of the shared
    pair-count table."""
    return _copurchase_pair_counts(spark, sf_dir).select("a", "b")


@register(
    "triangle_count",
    f"""
WITH {_EDGE_CTE},
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
  GROUP BY node),
o AS (
  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
              THEN e.a ELSE e.b END AS u,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
              THEN e.b ELSE e.a END AS v
  FROM e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node),
wedge AS (
  SELECT o1.v AS x, o2.v AS y
  FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.v < o2.v),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM wedge JOIN e ON wedge.x = e.a AND wedge.y = e.b),
counts AS (
  SELECT COUNT(*) AS n_nodes, SUM(d * (d - 1) // 2) AS n_wedges FROM deg),
ne AS (SELECT COUNT(*) AS n_edges FROM e)
SELECT counts.n_nodes, ne.n_edges, tri.n_triangles,
       ROUND(3.0e0 * tri.n_triangles / counts.n_wedges, 6) AS clustering
FROM counts CROSS JOIN ne CROSS JOIN tri
""",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient of the part
    co-purchase graph (see operators/graphs.py:triangle_stats for the
    degree-orientation scale argument)."""
    from taxi_data_datapipeline_spark.operators.graphs import triangle_stats

    return triangle_stats(_copurchase_edges(spark, sf_dir))


def _pagerank_oracle(iters: int = 5, units: int = 10**12) -> str:
    prev = "r0"
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f"""r{k} AS (
  SELECT s.v AS node,
         CAST(bs.base + SUM((r.runits * 17) // (20 * d.outdeg)) AS BIGINT)
           AS runits
  FROM sym s
  JOIN {prev} r ON s.u = r.node
  JOIN deg d ON s.u = d.u
  CROSS JOIN bs
  GROUP BY s.v, bs.base)"""
        )
        prev = f"r{k}"
    steps_sql = ",\n".join(steps)
    return f"""
WITH {_EDGE_CTE},
sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
deg AS (SELECT u, COUNT(*) AS outdeg FROM sym GROUP BY u),
n AS (SELECT COUNT(*) AS n FROM deg),
bs AS (SELECT ({units} * 3) // (20 * n) AS base FROM n),
r0 AS (SELECT u AS node, CAST({units} // n.n AS BIGINT) AS runits
       FROM deg CROSS JOIN n),
{steps_sql}
SELECT node, runits FROM {prev}
"""


@register("pagerank_copurchase", _pagerank_oracle())
def q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-iteration PageRank over the part co-purchase graph in exact
    fixed-point integer arithmetic — an ITERATIVE numeric algorithm with
    a full value-hash oracle (the SQL unrolls the five iterations as
    chained CTEs; every engine reproduces the BIGINT ranks bit-for-bit
    because no float ever appears). See operators/graphs.py:
    pagerank_units for the per-iteration shuffle shape."""
    from taxi_data_datapipeline_spark.operators.graphs import pagerank_units

    return pagerank_units(_copurchase_edges(spark, sf_dir))


# --- snapshot diff / table delta ---------------------------------------------


@register(
    "snapshot_diff",
    """
WITH snap_a AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 10 != 0),
snap_b AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10.0e0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 7 != 3),
diff AS (
  SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
              WHEN b.o_orderkey IS NULL THEN 'removed'
              WHEN a.o_totalprice != b.o_totalprice
                   OR a.o_orderstatus != b.o_orderstatus THEN 'changed'
              ELSE 'unchanged' END AS change_type,
         COALESCE(b.o_totalprice, 0.0e0) - COALESCE(a.o_totalprice, 0.0e0)
           AS delta
  FROM snap_a a FULL OUTER JOIN snap_b b ON a.o_orderkey = b.o_orderkey)
SELECT change_type, COUNT(*) AS n,
       CAST(SUM(CAST(delta AS DECIMAL(18,2))) AS DOUBLE) AS net_price_delta
FROM diff
GROUP BY change_type
""",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (table-delta classification): full-outer-join two
    snapshots of the orders table on the primary key and classify every
    key as added / removed / changed / unchanged, reporting counts and
    the net price delta per class — the core of incremental-load
    validation and CDC reconciliation. Snapshots are deterministic
    modular slices of the same table (deletes = keys leaving, updates =
    price bump on keys divisible by 5).

    Scale shape: one sort-merge full-outer join on the key (both sides
    shuffle-partitioned by o_orderkey; AQE handles any key skew), then a
    4-group hash agg with map-side partials. Deltas are exact-decimal
    summed so fold order can't move the double output.
    """
    o = load(spark, sf_dir, "orders")
    snap_a = o.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snap_b = o.filter(F.col("o_orderkey") % 7 != 3).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + F.lit(10.0)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    a, b = snap_a.alias("a"), snap_b.alias("b")
    joined = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full")
    change = (
        F.when(F.col("a.o_orderkey").isNull(), "added")
        .when(F.col("b.o_orderkey").isNull(), "removed")
        .when(
            (F.col("a.o_totalprice") != F.col("b.o_totalprice"))
            | (F.col("a.o_orderstatus") != F.col("b.o_orderstatus")),
            "changed",
        )
        .otherwise("unchanged")
    )
    delta = F.coalesce(F.col("b.o_totalprice"), F.lit(0.0)) - F.coalesce(
        F.col("a.o_totalprice"), F.lit(0.0)
    )
    return (
        joined.select(change.alias("change_type"), delta.alias("delta"))
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("delta").cast("decimal(18,2)"))
            .cast("double")
            .alias("net_price_delta"),
        )
    )


# --- time-weighted average (TWAP) --------------------------------------------


@register(
    "time_weighted_value",
    """
WITH seg AS (
  SELECT user_id,
         CAST(FLOOR(value * 1e6) AS BIGINT) AS vunits,
         epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           - epoch_us(ts) AS dur_us
  FROM events)
SELECT user_id,
       COUNT(*) AS n_intervals,
       CAST(SUM(dur_us) AS BIGINT) AS total_dur_us,
       ROUND(CAST(SUM(vunits * (dur_us // 1000)) AS DOUBLE)
             / (1e3 * SUM(dur_us)), 6) AS twap
FROM seg
WHERE dur_us IS NOT NULL AND dur_us > 0
GROUP BY user_id
""",
)
def q_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value (TWAP) per user: each event's value
    holds until the user's next event; the average weights each value by
    its holding duration — the standard irregular-time-series aggregate
    (financial TWAP, state-duration metrics). Zero-length segments
    (simultaneous events) carry no weight and are dropped; each user's
    last event has no successor and is excluded.

    Cross-engine exactness: values enter BIGINT fixed-point (floor to
    micro-units — floor, not cast: DuckDB's double->int cast rounds),
    durations are integer microseconds floored to milliseconds before
    the product so the weighted sum stays within int64 at production
    horizons, and the final division is one double op on two exact
    integers.

    Scale shape: one shuffle on user_id serves both the LEAD window and
    the groupBy (same partitioning, Catalyst reuses the exchange); no
    self-join formulation.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = ev.select(
        "user_id",
        F.floor(F.col("value") * F.lit(1e6)).alias("vunits"),
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
        ).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull() & (F.col("dur_us") > 0))
    return seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dur_us").cast("bigint").alias("total_dur_us"),
        F.round(
            F.sum(F.col("vunits") * F.expr("dur_us div 1000")).cast("double")
            / (F.lit(1e3) * F.sum("dur_us")),
            6,
        ).alias("twap"),
    )


# Support-thresholded co-purchase edges: pairs that co-occur in >= 2
# DISTINCT orders (the standard market-basket support prune). The raw
# co-purchase graph has diameter ~2 — min-support sparsifies it into real
# community structure while also being the edge filter any production
# co-occurrence analysis applies first.
_EDGE_SUPPORT_CTE = """
li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT x.l_partkey AS a, y.l_partkey AS b
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY x.l_partkey, y.l_partkey
  HAVING COUNT(*) >= 2)
"""


def _copurchase_edges_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase edges with order-support >= 2: map-side filter of the
    shared memoized pair-count table (no extra shuffle of its own)."""
    return (
        _copurchase_pair_counts(spark, sf_dir)
        .filter(F.col("support") >= 2)
        .select("a", "b")
    )


def _label_prop_oracle(iters: int = 5) -> str:
    prev = "l0"
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f"""l{k} AS (
  SELECT cur.node, LEAST(cur.label, MIN(p.label)) AS label
  FROM {prev} cur
  JOIN sym s ON s.v = cur.node
  JOIN {prev} p ON p.node = s.u
  GROUP BY cur.node, cur.label)"""
        )
        prev = f"l{k}"
    steps_sql = ",\n".join(steps)
    return f"""
WITH {_EDGE_SUPPORT_CTE},
sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
{steps_sql}
SELECT node, label AS community
FROM {prev}
"""


@register("label_propagation", _label_prop_oracle())
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection tier: 5 fixed rounds of min-label propagation
    over the support->=2 co-purchase graph, emitting every node's
    community label (min node id within 5 hops). The fixed round count
    keeps the result a deterministic function of the edge list, so the
    oracle unrolls the rounds as chained CTEs — the driver-checkable
    counterpart to the convergence-driven ``dedup_groups_cc``
    (operators/graphs.py:min_label_rounds documents the per-round
    shuffle shape)."""
    from taxi_data_datapipeline_spark.operators.graphs import min_label_rounds

    labels = min_label_rounds(_copurchase_edges_support(spark, sf_dir))
    return labels.select("node", F.col("label").alias("community"))


def _bfs_oracle(iters: int = 4) -> str:
    prev = "d0"
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f"""d{k} AS (
  SELECT s.v AS node,
         MIN(d.depth + CASE WHEN s.u = s.v THEN 0 ELSE 1 END) AS depth
  FROM symx s JOIN {prev} d ON s.u = d.node
  GROUP BY s.v)"""
        )
        prev = f"d{k}"
    steps_sql = ",\n".join(steps)
    return f"""
WITH {_EDGE_SUPPORT_CTE},
symx AS (
  SELECT a AS u, b AS v FROM e
  UNION SELECT b, a FROM e
  UNION SELECT a, a FROM e
  UNION SELECT b, b FROM e),
seed AS (SELECT MIN(a) AS s FROM e),
d0 AS (SELECT s AS node, CAST(0 AS BIGINT) AS depth FROM seed),
{steps_sql}
SELECT node, depth FROM {prev}
"""


@register("bfs_hops", _bfs_oracle())
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-hop BFS layers from the lowest part id in the
    support->=2 co-purchase graph, bounded at 4 hops — the reachability
    / ego-network primitive (operators/graphs.py:bfs_depths for the
    per-round shuffle shape and the chained-round argument). Unrolled
    chained-CTE oracle; nodes beyond the hop bound are absent from both
    sides."""
    from taxi_data_datapipeline_spark.operators.graphs import bfs_depths

    edges = _copurchase_edges_support(spark, sf_dir)
    seed = edges.agg(F.min("a").alias("s")).collect()[0]["s"]
    return bfs_depths(edges, int(seed))


@register(
    "streaming_exact_dedup",
    """
SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
         AS fingerprint
FROM documents
""",
)
def q_streaming_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ladder's incremental tier as an oracle-checked query:
    parquet file-source stream of the documents table -> first-seen-wins
    ``dropDuplicates`` on the normalized-text md5 fingerprint
    (streaming/dedup.py) -> append-mode memory sink drained with
    AvailableNow. Which COPY of a duplicate survives is
    arrival-order-dependent, so the query returns the fingerprint SET —
    deterministic and equal to the batch DISTINCT, which is the oracle.
    State is one row per distinct fingerprint (the
    dropDuplicatesWithinWatermark variant bounds it by recency —
    tests/test_streaming_dedup.py)."""
    from pyspark.sql import types as T

    from taxi_data_datapipeline_spark.streaming.dedup import dedup_stream

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    # Glob form: the file-stream source needs a directory basePath, which
    # it infers from the non-glob path prefix (same trick as _stream_events).
    spark = _stream_session(spark, sf_dir, table="documents")
    raw = spark.readStream.schema(schema).parquet(f"{sf_dir}/documents*.parquet")
    deduped = dedup_stream(raw).select("fingerprint")
    return drain(deduped)


@register(
    "assoc_rules",
    """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pc AS (
  SELECT x.l_partkey AS a, y.l_partkey AS b, COUNT(*) AS s_ab
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY x.l_partkey, y.l_partkey
  HAVING COUNT(*) >= 2),
ic AS (SELECT l_partkey AS item, COUNT(*) AS s_i FROM li GROUP BY l_partkey),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
both_dirs AS (
  SELECT a AS antecedent, b AS consequent, s_ab FROM pc
  UNION ALL
  SELECT b, a, s_ab FROM pc)
SELECT r.antecedent, r.consequent, r.s_ab AS pair_support,
       ROUND(CAST(r.s_ab AS DOUBLE) / ia.s_i, 6) AS confidence,
       ROUND(CAST(r.s_ab * n.n_orders AS DOUBLE)
             / CAST(ia.s_i * ic2.s_i AS DOUBLE), 6) AS lift
FROM both_dirs r
JOIN ic ia ON r.antecedent = ia.item
JOIN ic ic2 ON r.consequent = ic2.item
CROSS JOIN n
""",
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules (market-basket support / confidence / lift) for
    co-purchased part pairs with order-support >= 2 — the classic
    frequent-itemset pair tier, derived from the SAME memoized pair-count
    table the graph family shares (zero extra pair generation). Item
    supports are a part-sized dimension that BROADCASTS into the rule
    join; the order count rides in as a broadcast 1-row aggregate. All
    ratios are single double divisions of exact integers, rounded once.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    pc = (
        _copurchase_pair_counts(spark, sf_dir)
        .filter(F.col("support") >= 2)
        .withColumnRenamed("support", "s_ab")
    )
    ic = li.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).alias("s_i")
    )
    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    both = pc.select(
        F.col("a").alias("antecedent"), F.col("b").alias("consequent"), "s_ab"
    ).unionByName(
        pc.select(
            F.col("b").alias("antecedent"), F.col("a").alias("consequent"), "s_ab"
        )
    )
    ia = ic.select(F.col("item").alias("antecedent"), F.col("s_i").alias("s_a"))
    ib = ic.select(F.col("item").alias("consequent"), F.col("s_i").alias("s_b"))
    return (
        both.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ib), "consequent")
        .join(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.col("s_ab").alias("pair_support"),
            F.round(F.col("s_ab").cast("double") / F.col("s_a"), 6).alias(
                "confidence"
            ),
            F.round(
                (F.col("s_ab") * F.col("n_orders")).cast("double")
                / (F.col("s_a") * F.col("s_b")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


@register(
    "cusum_count_changepoint",
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
tot AS (
  SELECT event_type, COUNT(*) AS n_days, SUM(n) AS s
  FROM daily GROUP BY event_type),
dev AS (
  SELECT d.event_type, d.day,
         SUM(d.n * t.n_days - t.s)
           OVER (PARTITION BY d.event_type ORDER BY d.day) AS cusum
  FROM daily d JOIN tot t ON d.event_type = t.event_type)
SELECT event_type,
       CAST(MIN(CASE WHEN rnk = 1 THEN day END) AS DATE) AS change_day,
       CAST(MAX(ABS(cusum)) AS BIGINT) AS max_abs_cusum,
       COUNT(*) AS n_days
FROM (
  SELECT event_type, day, cusum,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ABS(cusum) DESC, day) AS rnk
  FROM dev)
GROUP BY event_type
""",
)
def q_cusum_count_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per event type on the daily COUNT
    series (the revenue-series twin is ``cusum_changepoint`` in
    queries_stats.py — this one watches event volume, that one watches
    value): cumulative sum of mean-centered daily counts, peak |CUSUM|
    marks the most likely level shift. Exactness: deviations are scaled by the day count
    (n_d * D - S) so everything stays BIGINT — no float mean, no fold
    order. One shuffle builds daily counts; the per-type totals re-join
    broadcast; cumsum + argmax windows share the event_type partitioning
    (the aggregate-sized table, not raw events — window-over-aggregate,
    ROUND_NOTES landmine 9).
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("n").alias("s")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    dev = (
        daily.join(F.broadcast(tot), "event_type")
        .withColumn(
            "cusum",
            F.sum(F.col("n") * F.col("n_days") - F.col("s")).over(w),
        )
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), "day"
    )
    return (
        dev.withColumn("rnk", F.row_number().over(wr))
        .groupBy("event_type")
        .agg(
            F.min(F.when(F.col("rnk") == 1, F.col("day"))).alias("change_day"),
            F.max(F.abs(F.col("cusum"))).cast("bigint").alias("max_abs_cusum"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )


@register(
    "trimmed_mean_prices",
    """
WITH edges AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.05e0) AS lo,
         quantile_cont(l_extendedprice, 0.95e0) AS hi
  FROM lineitem GROUP BY l_returnflag),
c AS (
  SELECT l.l_returnflag,
         CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents,
         l.l_extendedprice < e.lo AS is_low,
         l.l_extendedprice > e.hi AS is_high
  FROM lineitem l JOIN edges e ON l.l_returnflag = e.l_returnflag)
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(COUNT(*) FILTER (WHERE is_low) AS BIGINT) AS n_low,
       CAST(COUNT(*) FILTER (WHERE is_high) AS BIGINT) AS n_high,
       ROUND(CAST(SUM(cents) FILTER (WHERE NOT is_low AND NOT is_high)
                  AS DOUBLE)
             / (100.0e0 * COUNT(*) FILTER (WHERE NOT is_low AND NOT is_high)),
             6) AS trimmed_mean
FROM c
GROUP BY l_returnflag
""",
)
def q_trimmed_mean_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (5%-trimmed) mean price per return flag: percentile edges
    from one single-pass aggregate, BROADCAST back, and a second pass
    counts/sums only in-band rows — the scale-correct two-pass robust
    statistic (same shape as the MAD outlier query; never a global
    sort). Exactness: in-band values are summed as integer CENTS (the
    money-decimal convention), so the final mean is one double division
    of exact integers; the float percentile edges only ever sit in
    COMPARISONS, where both engines agree bit-for-bit.
    """
    li = load(spark, sf_dir, "lineitem")
    edges = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.05)).alias("lo"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("hi"),
    )
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    c = li.join(F.broadcast(edges), "l_returnflag").select(
        "l_returnflag",
        cents.alias("cents"),
        (F.col("l_extendedprice") < F.col("lo")).alias("is_low"),
        (F.col("l_extendedprice") > F.col("hi")).alias("is_high"),
    )
    mid = ~F.col("is_low") & ~F.col("is_high")
    return c.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("is_low")).cast("bigint").alias("n_low"),
        F.count_if(F.col("is_high")).cast("bigint").alias("n_high"),
        F.round(
            F.sum(F.when(mid, F.col("cents"))).cast("double")
            / (F.lit(100.0) * F.count_if(mid)),
            6,
        ).alias("trimmed_mean"),
    )


@register(
    "seasonal_adjust",
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
dow AS (
  SELECT event_type, dayofweek(day) AS dw,
         COUNT(*) AS days_n, SUM(n) AS dow_s
  FROM daily GROUP BY 1, 2)
SELECT d.event_type, d.day, d.n,
       ROUND(CAST(t.dow_s AS DOUBLE) / t.days_n, 6) AS dow_mean,
       ROUND(d.n - CAST(t.dow_s AS DOUBLE) / t.days_n, 6) AS residual
FROM daily d
JOIN dow t ON d.event_type = t.event_type AND dayofweek(d.day) = t.dw
""",
)
def q_seasonal_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal adjustment (weekly-seasonality removal) of daily event
    counts: subtract each (event_type, day-of-week) mean from the daily
    series — the naive-seasonal baseline every traffic/forecast pipeline
    starts from. One shuffle builds the daily series; the 7-row-per-type
    seasonal profile re-aggregates that (already aggregate-sized) table
    and BROADCASTS back. Residual = n - s/days is one double division +
    one subtraction of exact integers, rounded once; DuckDB and Spark
    agree on dayofweek (1 = Sunday) under the pinned UTC session.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    dow = daily.groupBy(
        "event_type", F.dayofweek("day").alias("dw")
    ).agg(F.count(F.lit(1)).alias("days_n"), F.sum("n").alias("dow_s"))
    mean = F.col("dow_s").cast("double") / F.col("days_n")
    return (
        daily.withColumn("dw", F.dayofweek("day"))
        .join(F.broadcast(dow), ["event_type", "dw"])
        .select(
            "event_type",
            "day",
            "n",
            F.round(mean, 6).alias("dow_mean"),
            F.round(F.col("n") - mean, 6).alias("residual"),
        )
    )


def _pagerank_weighted_oracle(iters: int = 5, units: int = 10**12) -> str:
    prev = "r0"
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f"""r{k} AS (
  SELECT s.v AS node,
         CAST(bs.base + SUM((r.runits * 17 * s.w) // (20 * d.wdeg)) AS BIGINT)
           AS runits
  FROM sym s
  JOIN {prev} r ON s.u = r.node
  JOIN deg d ON s.u = d.u
  CROSS JOIN bs
  GROUP BY s.v, bs.base)"""
        )
        prev = f"r{k}"
    steps_sql = ",\n".join(steps)
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT x.l_partkey AS a, y.l_partkey AS b, COUNT(*) AS w
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY x.l_partkey, y.l_partkey),
sym AS (SELECT a AS u, b AS v, w FROM e UNION ALL SELECT b, a, w FROM e),
deg AS (SELECT u, SUM(w) AS wdeg FROM sym GROUP BY u),
n AS (SELECT COUNT(*) AS n FROM deg),
bs AS (SELECT ({units} * 3) // (20 * n) AS base FROM n),
r0 AS (SELECT u AS node, CAST({units} // n.n AS BIGINT) AS runits
       FROM deg CROSS JOIN n),
{steps_sql}
SELECT node, runits FROM {prev}
"""


@register("pagerank_weighted", _pagerank_weighted_oracle())
def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-WEIGHTED PageRank over the co-purchase graph: each
    neighbor's rank share is proportional to how many orders the pair
    co-occurred in (w/sum(w)), not 1/degree — the weighted-graph tier of
    the analytics family. Same BIGINT fixed-point discipline as the
    unweighted variant (operators/graphs.py:pagerank_units with a weight
    column), so the 5 unrolled iterations keep a full value-hash oracle.
    Reuses the shared memoized pair-count table — zero extra pair
    generation."""
    from taxi_data_datapipeline_spark.operators.graphs import pagerank_units

    counts = _copurchase_pair_counts(spark, sf_dir)
    return pagerank_units(counts, weight="support")


@register(
    "attribution_linear",
    """
WITH p AS (
  SELECT event_id AS p_id, user_id, ts AS p_ts FROM events
  WHERE event_type = 'purchase'),
v AS (
  SELECT event_id AS v_id, user_id, ts AS v_ts FROM events
  WHERE event_type = 'view'),
touch AS (
  SELECT p.p_id, v.v_id, v.user_id
  FROM p JOIN v ON p.user_id = v.user_id
   AND v.v_ts <= p.p_ts AND v.v_ts > p.p_ts - INTERVAL 1 HOUR),
per_p AS (
  SELECT p_id, COUNT(*) AS n_touch FROM touch GROUP BY p_id)
SELECT t.v_id, t.user_id,
       COUNT(*) AS n_assists,
       CAST(SUM(1000000000000 // pp.n_touch) AS BIGINT) AS credit_units
FROM touch t JOIN per_p pp ON t.p_id = pp.p_id
GROUP BY t.v_id, t.user_id
""",
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every view within the hour before
    a purchase (same user) shares that purchase's credit equally — the
    fractional-allocation pattern behind marketing attribution and
    proportional fill. Credit is allocated in integer PICO-units
    (10^12 // n_touch) so the per-view sums are exact and
    order-independent — no float fold ambiguity in a quantity that gets
    summed across purchases. The touch join is an equi-join on user_id
    with a range predicate (never a cross join); per-purchase touch
    counts re-aggregate the touch table and join back by purchase id —
    both sides of that join are the (already shrunken) touch table, not
    raw events.
    """
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"),
        "user_id",
        F.col("ts").alias("v_ts"),
    )
    touch = p.join(v, "user_id").filter(
        (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
    ).select("p_id", "v_id", "user_id")
    per_p = touch.groupBy("p_id").agg(F.count(F.lit(1)).alias("n_touch"))
    return (
        touch.join(per_p, "p_id")
        .groupBy("v_id", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_assists"),
            F.sum(F.expr("1000000000000 div n_touch"))
            .cast("bigint")
            .alias("credit_units"),
        )
    )


@register(
    "streaming_twap",
    """
WITH seg AS (
  SELECT user_id,
         CAST(FLOOR(value * 1e6) AS BIGINT) AS vunits,
         epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           - epoch_us(ts) AS dur_us
  FROM events)
SELECT user_id,
       COUNT(*) AS n_intervals,
       CAST(SUM(dur_us) AS BIGINT) AS total_dur_us,
       ROUND(CAST(SUM(vunits * (dur_us // 1000)) AS DOUBLE)
             / (1e3 * SUM(dur_us)), 6) AS twap
FROM seg
WHERE dur_us IS NOT NULL AND dur_us > 0
GROUP BY user_id
""",
)
def q_streaming_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TWAP computed INCREMENTALLY: a custom stateful operator
    (applyInPandasWithState, streaming/twap.py) keeps each user's last
    (ts, value) and emits closed holding segments as successor events
    arrive — the stream cannot LEAD(), so state inverts the lookahead.
    Drained AvailableNow, the segment set equals the batch LEAD
    derivation, and the per-user aggregate shares `time_weighted_value`'s
    oracle verbatim — custom stateful streaming under a full value-hash
    check."""
    from taxi_data_datapipeline_spark.streaming.twap import twap_segment_stream

    spark = _stream_session(spark, sf_dir)
    raw = _stream_events(spark, sf_dir)
    segments = twap_segment_stream(raw)
    seg = drain(segments).filter(F.col("dur_us") > 0)
    return seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dur_us").cast("bigint").alias("total_dur_us"),
        F.round(
            F.sum(F.col("vunits") * F.expr("dur_us div 1000")).cast("double")
            / (F.lit(1e3) * F.sum("dur_us")),
            6,
        ).alias("twap"),
    )


@register(
    "rolling_beta",
    """
WITH o AS (
  SELECT o_custkey,
         CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS xd,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc,
         o_orderkey
  FROM orders),
w AS (
  SELECT o_custkey, xd, o_orderkey,
         COUNT(*) OVER win AS n,
         SUM(xd) OVER win AS sx,
         SUM(yc) OVER win AS sy,
         SUM(xd * yc) OVER win AS sxy,
         SUM(xd * xd) OVER win AS sxx
  FROM o
  WINDOW win AS (PARTITION BY o_custkey ORDER BY xd
                 RANGE BETWEEN 89 PRECEDING AND CURRENT ROW))
SELECT o_custkey, o_orderkey, n AS n_window,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE) / 100, 6)
       END AS beta
FROM w
""",
)
def q_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling regression (trailing-90-day OLS slope of order value vs
    time, per customer) — the windowed-sufficient-statistics pattern:
    the time-RANGE frame accumulates exact integer moments (day
    ordinals, price cents, their products), and the slope assembles from
    them per row with one double division. One shuffle on the customer
    key serves all five window sums (one frame). A same-day-only window
    has zero x-variance -> NULL beta, stated identically in both
    engines.
    """
    o = load(spark, sf_dir, "orders")
    xd = F.expr(
        "CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"
        " AS BIGINT)"
    )
    yc = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    base = o.select(
        "o_custkey", xd.alias("xd"), yc.alias("yc"), "o_orderkey"
    )
    win = (
        Window.partitionBy("o_custkey")
        .orderBy("xd")
        .rangeBetween(-89, Window.currentRow)
    )
    w = base.select(
        "o_custkey",
        "o_orderkey",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum("xd").over(win).alias("sx"),
        F.sum("yc").over(win).alias("sy"),
        F.sum(F.col("xd") * F.col("yc")).over(win).alias("sxy"),
        F.sum(F.col("xd") * F.col("xd")).over(win).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return w.select(
        "o_custkey",
        "o_orderkey",
        F.col("n").alias("n_window"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(F.round(num.cast("double") / den.cast("double") / 100, 6))
        .alias("beta"),
    )


def _kcore_oracle(k: int = 4, rounds: int = 3) -> str:
    prev = "n0"
    steps = []
    for r in range(1, rounds + 1):
        steps.append(
            f"""n{r} AS (
  SELECT u FROM (
    SELECT s.u, COUNT(*) AS d
    FROM sym s
    JOIN {prev} a ON s.u = a.u
    JOIN {prev} b ON s.v = b.u
    GROUP BY s.u)
  WHERE d >= {k})"""
        )
        prev = f"n{r}"
    steps_sql = ",\n".join(steps)
    return f"""
WITH {_EDGE_SUPPORT_CTE},
sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
n0 AS (
  SELECT u FROM (SELECT u, COUNT(*) AS d FROM sym GROUP BY u)
  WHERE d >= {k}),
{steps_sql}
SELECT s.u AS node, COUNT(*) AS degree
FROM sym s
JOIN {prev} a ON s.u = a.u
JOIN {prev} b ON s.v = b.u
GROUP BY s.u
"""


@register("kcore_membership", _kcore_oracle())
def q_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded 4-core peeling of the support->=2 co-purchase graph
    (3 rounds of drop-degree-<k), reporting surviving nodes with their
    induced-subgraph degrees — the density-tier decomposition used to
    find cohesive product clusters. Fixed rounds keep the result
    oracle-checkable via unrolled CTEs (operators/graphs.py:kcore_nodes
    documents the per-round semi-join shape)."""
    from taxi_data_datapipeline_spark.operators.graphs import kcore_nodes

    return kcore_nodes(_copurchase_edges_support(spark, sf_dir), k=4)


@register(
    "rolling_active_users",
    """
WITH act AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
spine AS (
  SELECT DISTINCT day FROM act)
SELECT s.day,
       COUNT(DISTINCT a.user_id) AS wau
FROM spine s
JOIN act a ON a.day BETWEEN s.day - 6 AND s.day
GROUP BY s.day
""",
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day (rolling WAU) — the
    sliding-window COUNT DISTINCT that window frames cannot express
    (DISTINCT isn't frameable): dedup activity to (day, user) pairs
    first (the corpus-sized shuffle), then range-join the (tiny,
    broadcast) day spine against the pairs and count distinct per spine
    day. The range join fans each pair out at most 7x — bounded by the
    window length, never by the data.
    """
    ev = load(spark, sf_dir, "events")
    act = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    spine = act.select("day").distinct().withColumnRenamed("day", "sday")
    return (
        act.join(
            F.broadcast(spine),
            (F.col("day") <= F.col("sday"))
            & (F.col("day") >= F.date_sub(F.col("sday"), 6)),
        )
        .groupBy("sday")
        .agg(F.countDistinct("user_id").alias("wau"))
        .withColumnRenamed("sday", "day")
    )


@register(
    "basket_similarity_join",
    """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
b AS (
  SELECT l_orderkey, list_sort(list(l_partkey)) AS parts
  FROM li GROUP BY l_orderkey),
cand AS (
  SELECT DISTINCT x.l_orderkey AS o1, y.l_orderkey AS o2
  FROM li x JOIN li y
    ON x.l_partkey = y.l_partkey AND x.l_orderkey < y.l_orderkey)
SELECT c.o1, c.o2,
       ROUND(CAST(len(list_intersect(b1.parts, b2.parts)) AS DOUBLE)
             / len(list_distinct(list_concat(b1.parts, b2.parts))), 6)
         AS jaccard
FROM cand c
JOIN b b1 ON c.o1 = b1.l_orderkey
JOIN b b2 ON c.o2 = b2.l_orderkey
WHERE CAST(len(list_intersect(b1.parts, b2.parts)) AS DOUBLE)
      / len(list_distinct(list_concat(b1.parts, b2.parts))) >= 0.5e0
""",
)
def q_basket_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity self-join (order baskets with Jaccard >= 0.5) via
    PREFIX FILTERING (Bayardo/Ma/Srikant "Scaling Up All Pairs
    Similarity Search", WWW'07): items are canonically ordered
    rarest-first, and only each basket's first floor(n/2)+1 items
    generate candidates — the prefix lemma guarantees any pair at
    J >= 0.5 shares a prefix item, so rare-item prefixes slash the
    candidate fanout that a join on ANY shared item (the oracle's
    formulation) pays. Candidates verify with exact array
    intersect/union; the two formulations agree exactly because the
    prefix filter is lossless at the threshold.

    Scale shape: one groupBy builds baskets, one explode+self-join on
    prefix items generates candidates (skew = hot items, which
    rarest-first ordering keeps OUT of prefixes), one hash join back to
    baskets verifies. No all-pairs stage anywhere.
    """
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    freq = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("f"))
    ranked = li.join(freq.hint("shuffle_hash"), "l_partkey").select(
        "l_orderkey", F.struct("f", "l_partkey").alias("rk")
    )
    # One row per order; consumed THREE times (prefix explode + both
    # verify sides). Materialize once — without this the whole
    # distinct -> freq-join -> collect_list chain re-executes per
    # consumer (measured: 16 lineitem scans / 50 Exchanges in the
    # un-checkpointed plan; exchange reuse never fires across the
    # differently-projected consumers).
    baskets = ranked.groupBy("l_orderkey").agg(
        F.expr("transform(sort_array(collect_list(rk)), s -> s.l_partkey)")
        .alias("parts")
    ).localCheckpoint(eager=True)
    prefix = baskets.select(
        "l_orderkey",
        F.explode(
            F.expr("slice(parts, 1, size(parts) - CAST(ceil(0.5 * size(parts)) AS INT) + 1)")
        ).alias("item"),
    )
    cand = (
        prefix.alias("x")
        .join(prefix.alias("y").hint("shuffle_hash"), "item")
        .filter(F.col("x.l_orderkey") < F.col("y.l_orderkey"))
        .select(
            F.col("x.l_orderkey").alias("o1"),
            F.col("y.l_orderkey").alias("o2"),
        )
        .distinct()
    )
    b1 = baskets.select(
        F.col("l_orderkey").alias("o1"), F.col("parts").alias("p1")
    )
    b2 = baskets.select(
        F.col("l_orderkey").alias("o2"), F.col("parts").alias("p2")
    )
    jac = F.size(F.array_intersect("p1", "p2")).cast("double") / F.size(
        F.array_union("p1", "p2")
    )
    return (
        cand.join(b1.hint("shuffle_hash"), "o1")
        .join(b2.hint("shuffle_hash"), "o2")
        .filter(jac >= 0.5)
        .select("o1", "o2", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "cluster_split",
    None,  # oracle injected below (reuses the recursive-CTE CC chain)
)
def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split unit is the NEAR-DUP
    CLUSTER, not the document — if two documents are near-duplicates
    (verified MinHash pairs -> connected components), they land in the
    SAME split, so evaluation can never score memorized training
    near-copies (the split-leakage failure mode of naive per-doc
    random splits). Singletons are their own cluster; assignment is
    md5(cluster-id) first nibble (13/2/1 of 16 -> ~81/12/6%), so reruns
    and engines agree byte-for-byte. tests/test_corpus_assembly.py
    asserts the invariant: zero verified near-dup pairs straddle
    splits."""
    from taxi_data_datapipeline_spark.operators.graphs import connected_components
    from taxi_data_datapipeline_spark.queries_data import lsh_pairs_cached

    docs = load(spark, sf_dir, "documents", fan_out=True)
    pairs = lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs)
    cl = docs.select("doc_id", "n_chars").join(
        labels, docs.doc_id == labels.node, "left"
    ).select(
        "doc_id",
        "n_chars",
        F.coalesce("comp", "doc_id").alias("cluster"),
    )
    v = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.col("cluster").cast("string")), 1, 1),
        )
        - 1
    )
    split = (
        F.when(v < 13, "train").when(v < 15, "val").otherwise("test")
    ).alias("split")
    return cl.select(split, "cluster", "n_chars").groupBy("split").agg(
        F.countDistinct("cluster").alias("n_clusters"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )


def _install_cluster_split_oracle() -> None:
    from taxi_data_datapipeline_spark.queries import ORACLES
    from taxi_data_datapipeline_spark.queries_data import _SQL_GRAMS, _SQL_JACCARD

    ORACLES["cluster_split"] = f"""
WITH RECURSIVE g AS (SELECT doc_id, {_SQL_GRAMS} AS grams FROM documents),
pairs AS (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {_SQL_JACCARD} AS jaccard
    FROM g a JOIN g b ON a.doc_id < b.doc_id)
  WHERE jaccard >= 0.5),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
walk AS (
  SELECT u AS node, u AS comp FROM edges
  UNION
  SELECT e.u, w.comp FROM edges e JOIN walk w ON e.v = w.node
  WHERE w.comp < e.u),
comp AS (SELECT node, MIN(comp) AS comp FROM walk GROUP BY node),
cl AS (
  SELECT d.doc_id, d.n_chars, COALESCE(c.comp, d.doc_id) AS cluster
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
sp AS (
  SELECT doc_id, n_chars, cluster,
         strpos('0123456789abcdef',
                substr(md5(CAST(cluster AS VARCHAR)), 1, 1)) - 1 AS v
  FROM cl)
SELECT CASE WHEN v < 13 THEN 'train' WHEN v < 15 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(DISTINCT cluster) AS n_clusters,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM sp GROUP BY 1
"""


_install_cluster_split_oracle()


@register(
    "dedup_groups_cc_star",
    None,  # oracle injected below (same component walk as dedup_groups_cc)
)
def q_dedup_groups_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-group labeling computed by ALTERNATING STAR CONTRACTION
    (Kiveris SoCC'14) instead of min-label propagation — O(log n) rounds
    regardless of graph diameter, the general-graph path where
    propagation's round count is the diameter (fine for dedup cliques,
    hopeless for long chains; a 512-node path converges in ~6
    alternations vs 256 propagation rounds,
    tests/test_graph_analytics.py). Same MinHash pair edges, same
    recursive-CTE oracle, same (node, comp) contract — two independent
    algorithms that must agree bit-for-bit."""
    from taxi_data_datapipeline_spark.operators.graphs import (
        connected_components_star,
    )
    from taxi_data_datapipeline_spark.queries_data import lsh_pairs_cached

    pairs = lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components_star(pairs)


def _install_cc_star_oracle() -> None:
    from taxi_data_datapipeline_spark.queries import ORACLES

    ORACLES["dedup_groups_cc_star"] = ORACLES["dedup_groups_cc"]


_install_cc_star_oracle()


# --- streaming portable-HLL register build ------------------------------------


@register(
    "streaming_hll_registers",
    f"""
WITH h AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT)
           AS bucket,
         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 3, 8)) AS BIGINT)
           AS w
  FROM events),
r AS (
  SELECT day, bucket,
         MAX(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) AS mr
  FROM h GROUP BY day, bucket),
p AS (
  SELECT day,
         CAST(SUM(CAST(1 AS BIGINT) << (33 - mr)) AS BIGINT) AS s_present,
         COUNT(*) AS n_present
  FROM r GROUP BY day)
SELECT day,
       CAST(256 - n_present AS BIGINT) AS n_zero,
       CAST(s_present + (256 - n_present) * 8589934592 AS BIGINT)
         AS harmonic_scaled,
       404351522913636.8 / (s_present + (256 - n_present) * 8589934592)
         AS hll_estimate
FROM p
""",
)
def q_streaming_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The portable-HLL register build (see ``hll_portable_daily``)
    executed through Structured Streaming: the register table is a
    per-(window, bucket) MAX — HLL's merge operation IS max, so the
    streaming state is 256 bigints per open day regardless of stream
    cardinality, and late events fold in associatively under the
    watermark. File stream -> 1-day tumbling window -> MAX(rho) state ->
    AvailableNow drain; the drained register table then folds to the
    estimate in one batch aggregation (exact-integer harmonic sum, one
    literal float division — identical arithmetic to the batch twin, so
    the SAME DuckDB oracle checks the streaming path bit-for-bit).

    This is the canonical streaming-sketch architecture at 100 TB:
    registers live in the state store (bounded), snapshots are mergeable
    across streams/partitions/restarts, and the expensive fold runs only
    at read time."""
    spark = _stream_session(spark, sf_dir)
    raw = _stream_events(spark, sf_dir)
    h = F.md5(F.col("user_id").cast("string"))
    proj = raw.select(
        "ts",
        F.conv(F.substring(h, 1, 2), 16, 10).cast("bigint").alias("bucket"),
        F.conv(F.substring(h, 3, 8), 16, 10).cast("bigint").alias("w"),
    ).withColumn(
        "rho",
        F.when(F.col("w") == 0, F.lit(33)).otherwise(
            F.lit(33) - F.length(F.bin(F.col("w")))
        ),
    )
    regs = (
        proj.withWatermark("ts", "2 days")
        .groupBy(F.window("ts", "1 day").alias("win"), "bucket")
        .agg(F.max("rho").alias("mr"))
    )
    drained = drain(regs, "complete").select(
        F.col("win.start").cast("date").alias("day"), "bucket", "mr"
    )
    per_day = drained.groupBy("day").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 33 - mr)")).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    s_total = F.col("s_present") + (256 - F.col("n_present")) * F.lit(1 << 33)
    return per_day.select(
        "day",
        (256 - F.col("n_present")).cast("bigint").alias("n_zero"),
        s_total.cast("bigint").alias("harmonic_scaled"),
        (F.lit(404351522913636.8) / s_total.cast("double")).alias("hll_estimate"),
    )


@register(
    "interval_coverage",
    """
WITH iv AS (
  SELECT user_id, ts AS s, ts + INTERVAL 5 MINUTE AS e
  FROM events
),
marked AS (
  SELECT user_id, s, e,
         CASE WHEN s > MAX(e) OVER (
                PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              OR MAX(e) OVER (
                PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              THEN 1 ELSE 0 END AS new_island
  FROM iv
),
islands AS (
  SELECT user_id, s, e,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM marked
),
merged AS (
  SELECT user_id, island, MIN(s) AS island_start, MAX(e) AS island_end
  FROM islands GROUP BY user_id, island
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(epoch_us(island_end) - epoch_us(island_start)) AS BIGINT)
            // 1000000 AS covered_seconds,
       MIN(island_start) AS first_start,
       MAX(island_end) AS last_end
FROM merged GROUP BY user_id
""",
)
def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union length of overlapping intervals per user (each event opens a
    5-minute activity window): the sweep-line classic, relationally — a
    running MAX(end) window marks rows that start PAST everything seen
    before (new island), a running SUM of those marks numbers the
    islands, and merged islands report exact covered seconds. This is
    the measure sessionization can't give (a session's span counts idle
    gaps shorter than the gap parameter; coverage counts only covered
    time) and the one dedup can't either (overlap is partial, not
    exact). Integer epoch-microsecond arithmetic end to end. One
    shuffle on user_id; both windows and the island rollup reuse that
    partitioning."""
    ev = load(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("e"),
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.select(
        "user_id",
        "s",
        "e",
        F.when(
            F.max("e").over(wprev).isNull()
            | (F.col("s") > F.max("e").over(wprev)),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = marked.select(
        "user_id", "s", "e", F.sum("new_island").over(wrun).alias("island")
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("island_start"), F.max("e").alias("island_end")
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum(
                F.unix_micros("island_end") - F.unix_micros("island_start")
            )
            .cast("long")
            .alias("us_total"),
            F.min("island_start").alias("first_start"),
            F.max("island_end").alias("last_end"),
        )
        .select(
            "user_id",
            "n_islands",
            F.expr("us_total DIV 1000000").alias("covered_seconds"),
            "first_start",
            "last_end",
        )
    )


@register(
    "watermark_late_audit",
    """
WITH arr AS (
  SELECT event_type, ts,
         MAX(ts) OVER (PARTITION BY event_type ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS high_water
  FROM events
),
lat AS (
  SELECT event_type,
         CAST(epoch_us(high_water) - epoch_us(ts) AS BIGINT) AS late_us
  FROM arr
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN late_us = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_order,
       CAST(SUM(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS dropped_at_10m,
       CAST(SUM(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS dropped_at_1h,
       CAST(MAX(late_us) // 1000000 AS BIGINT) AS max_late_seconds
FROM lat GROUP BY event_type
""",
)
def q_watermark_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark design audit, computed in batch BEFORE a stream exists:
    replay the log in ingestion order (event_id) per partition
    (event_type — the unit that carries its own high-water mark, like a
    Kafka partition), measure each event's lateness against the running
    MAX(event time), and report how many rows candidate watermarks
    (10 min, 1 h) would DROP. This is the number you need to pick the
    delay for every withWatermark() in the streaming tier — too short
    silently discards data, too long bloats state — and it's pure
    window arithmetic over integer epoch-microseconds, so it
    value-hashes. Shuffles once on the partition key; the running max
    reuses that partitioning."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lat = ev.select(
        "event_type",
        (
            F.unix_micros(F.max("ts").over(w)) - F.unix_micros(F.col("ts"))
        ).alias("late_us"),
    )
    return (
        lat.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("late_us") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_in_order"),
            F.sum(F.when(F.col("late_us") > 600000000, 1).otherwise(0))
            .cast("long")
            .alias("dropped_at_10m"),
            F.sum(F.when(F.col("late_us") > 3600000000, 1).otherwise(0))
            .cast("long")
            .alias("dropped_at_1h"),
            F.max("late_us").alias("max_late_us"),
        )
        .select(
            "event_type",
            "n_events",
            "n_in_order",
            "dropped_at_10m",
            "dropped_at_1h",
            F.expr("max_late_us DIV 1000000").alias("max_late_seconds"),
        )
    )


@register(
    "count_distinct_window",
    """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS first_seen
  FROM events
),
running AS (
  SELECT user_id, ts, event_id,
         SUM(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS distinct_types_so_far
  FROM flagged
)
SELECT user_id,
       CAST(MAX(distinct_types_so_far) AS BIGINT) AS final_distinct_types,
       CAST(MIN(CASE WHEN distinct_types_so_far >= 3 THEN event_id END) AS BIGINT)
         AS event_reaching_3
FROM running GROUP BY user_id
""",
)
def q_count_distinct_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window — which SQL engines reject
    outright (DISTINCT isn't a legal window aggregate) — via the
    first-seen decomposition: rank each (user, type) by time, flag rank
    1, and a running SUM of flags IS the running distinct count. Output
    per user: the final distinct-type count and the event at which the
    user first reached 3 distinct types (the activation-milestone query
    product analytics runs daily). Two windows, both over the SAME
    user-key shuffle (the second reuses the first's partitioning);
    no quadratic re-scan of history per row."""
    ev = load(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("first_seen"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = flagged.select(
        "user_id",
        "event_id",
        F.sum("first_seen").over(w_run).alias("distinct_types_so_far"),
    )
    return running.groupBy("user_id").agg(
        F.max("distinct_types_so_far").alias("final_distinct_types"),
        F.min(
            F.when(F.col("distinct_types_so_far") >= 3, F.col("event_id"))
        )
        .cast("long")
        .alias("event_reaching_3"),
    )


@register(
    "l_diversity_report",
    """
WITH buckets AS (
  SELECT CAST(FLOOR(value / 10) AS BIGINT) AS value_band,
         CAST(user_id % 10 AS BIGINT) AS user_cohort,
         event_type
  FROM events
),
grp AS (
  SELECT value_band, user_cohort,
         CAST(COUNT(*) AS BIGINT) AS k_size,
         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS l_distinct
  FROM buckets GROUP BY value_band, user_cohort
)
SELECT l_distinct,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(k_size) AS BIGINT) AS n_rows,
       CAST(MIN(k_size) AS BIGINT) AS min_k
FROM grp GROUP BY l_distinct
""",
)
def q_l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. '07) — the metric
    k-anonymity misses: a quasi-identifier group can be k-large yet
    reveal everyone's sensitive value if that value is CONSTANT within
    the group. Per (value-band, user-cohort) quasi-identifier group,
    count distinct sensitive values (event_type); report the group-count
    histogram by l with group sizes, so the release decision ("publish
    only l >= 2 cells, suppress the rest") reads off one table. Pairs
    with `k_anonymity_report` — same grouping discipline, orthogonal
    failure mode. One shuffle; the distinct runs inside the group
    aggregate (Expand, map-side partials)."""
    ev = load(spark, sf_dir, "events")
    grp = (
        ev.select(
            F.floor(F.col("value") / 10).cast("long").alias("value_band"),
            (F.col("user_id") % 10).cast("long").alias("user_cohort"),
            "event_type",
        )
        .groupBy("value_band", "user_cohort")
        .agg(
            F.count(F.lit(1)).alias("k_size"),
            F.count_distinct("event_type").alias("l_distinct"),
        )
    )
    return grp.groupBy("l_distinct").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("k_size").cast("long").alias("n_rows"),
        F.min("k_size").cast("long").alias("min_k"),
    )


@register(
    "share_of_parent",
    """
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         SUM(CAST(o.o_totalprice * 100 AS DECIMAL(38,0))) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
),
lvl AS (
  SELECT region, nation, cents,
         SUM(cents) OVER (PARTITION BY region) AS region_cents,
         SUM(cents) OVER () AS total_cents
  FROM rev
)
SELECT region, nation,
       CAST(cents AS DOUBLE) / 100 AS revenue,
       ROUND(CAST(cents AS DOUBLE) / CAST(region_cents AS DOUBLE), 6)
         AS share_of_region,
       ROUND(CAST(region_cents AS DOUBLE) / CAST(total_cents AS DOUBLE), 6)
         AS region_share_of_total
FROM lvl
""",
)
def q_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical percent-of-parent report: nation revenue as a share
    of its region, and the region as a share of the total — the
    drill-down ratio table every BI rollup needs, computed with exact
    decimal cents at every level so the ratios are the same bits on any
    engine (ROUND(.,6) per the transcendental-free share convention).
    The region-level window rides the region key; the grand total is a
    window over the NATION-level aggregate (25 rows), so no fact-sized
    data ever crosses a global window — the same cells rollup_agg
    produces, augmented with parent ratios."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum((F.col("o_totalprice") * 100).cast("decimal(38,0)")).alias(
                "cents"
            )
        )
        .limit(100000)
    )
    wr = Window.partitionBy("region")
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    lvl = rev.select(
        "region",
        "nation",
        "cents",
        F.sum("cents").over(wr).alias("region_cents"),
        F.sum("cents").over(wall).alias("total_cents"),
    )
    return lvl.select(
        "region",
        "nation",
        (F.col("cents").cast("double") / 100).alias("revenue"),
        F.round(
            F.col("cents").cast("double") / F.col("region_cents").cast("double"),
            6,
        ).alias("share_of_region"),
        F.round(
            F.col("region_cents").cast("double")
            / F.col("total_cents").cast("double"),
            6,
        ).alias("region_share_of_total"),
    )


@register(
    "growth_accounting",
    """
WITH weekly AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
  FROM events
),
seq AS (
  SELECT user_id, wk,
         LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY wk) AS rn
  FROM weekly
),
classified AS (
  SELECT wk,
         CASE WHEN rn = 1 THEN 'new'
              WHEN prev_wk = wk - INTERVAL 7 DAY THEN 'retained'
              ELSE 'resurrected' END AS status
  FROM seq
),
churn AS (
  SELECT wk + INTERVAL 7 DAY AS wk, 'churned' AS status
  FROM seq s
  WHERE NOT EXISTS (
    SELECT 1 FROM weekly w
    WHERE w.user_id = s.user_id AND w.wk = s.wk + INTERVAL 7 DAY)
    AND s.wk + INTERVAL 7 DAY <= (SELECT MAX(wk) FROM weekly)
)
SELECT wk, status, CAST(COUNT(*) AS BIGINT) AS n_users
FROM (SELECT wk, status FROM classified
      UNION ALL SELECT wk, status FROM churn)
GROUP BY wk, status
""",
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting (the standard DAU/MAU decomposition):
    every active user-week is NEW (first week ever), RETAINED (active
    the week before), or RESURRECTED (returning after a gap), and every
    active week not followed by activity contributes CHURNED to the
    NEXT week — so week-over-week active delta = new + resurrected -
    churned by construction (the identity the unit test pins). One
    shuffle on user_id drives the lag/rank windows; churn is an
    anti-join expressed as the absence of the next week, bounded by the
    corpus' last week so the final week never reports churn it cannot
    know. `retention_cohorts` gives the cohort triangle; this gives the
    flow decomposition growth teams act on."""
    ev = load(spark, sf_dir, "events")
    weekly = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("wk")
    seq = weekly.select(
        "user_id",
        "wk",
        F.lag("wk").over(w).alias("prev_wk"),
        F.row_number().over(w).alias("rn"),
    )
    classified = seq.select(
        "wk",
        F.when(F.col("rn") == 1, F.lit("new"))
        .when(
            F.col("prev_wk") == F.col("wk") - F.expr("INTERVAL 7 DAYS"),
            F.lit("retained"),
        )
        .otherwise(F.lit("resurrected"))
        .alias("status"),
    )
    max_wk = weekly.agg(F.max("wk").alias("max_wk"))
    nxt = weekly.select(
        "user_id", F.col("wk").alias("next_wk")
    )
    churn = (
        seq.join(
            nxt.hint("shuffle_hash"),
            (seq["user_id"] == nxt["user_id"])
            & (nxt["next_wk"] == seq["wk"] + F.expr("INTERVAL 7 DAYS")),
            "left_anti",
        )
        .crossJoin(F.broadcast(max_wk))
        .filter(F.col("wk") + F.expr("INTERVAL 7 DAYS") <= F.col("max_wk"))
        .select(
            (F.col("wk") + F.expr("INTERVAL 7 DAYS")).alias("wk"),
            F.lit("churned").alias("status"),
        )
    )
    return (
        classified.unionByName(churn)
        .groupBy("wk", "status")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "bitemporal_asof",
    """
WITH versions AS (
  SELECT o_orderkey, o_orderdate AS valid_ts, o_orderdate AS recorded_ts,
         o_totalprice AS price
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_orderdate, o_orderdate + INTERVAL 30 DAY,
         o_totalprice + 5.0
  FROM orders WHERE o_orderkey % 5 = 2
),
ks AS (SELECT UNNEST([TIMESTAMP '1998-01-15 00:00:00',
                      TIMESTAMP '1998-06-01 00:00:00']) AS known_as_of),
visible AS (
  SELECT k.known_as_of, v.o_orderkey, v.recorded_ts, v.price,
         ROW_NUMBER() OVER (PARTITION BY k.known_as_of, v.o_orderkey
                            ORDER BY v.recorded_ts DESC) AS rn
  FROM versions v JOIN ks k
    ON v.recorded_ts <= k.known_as_of
   AND v.valid_ts <= TIMESTAMP '1998-01-01 00:00:00'
)
SELECT known_as_of,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(price * 100 AS DECIMAL(38,0))) AS DOUBLE) / 100 AS revenue
FROM visible WHERE rn = 1
GROUP BY known_as_of
""",
)
def q_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-of reconstruction: the same VALID-time question
    ("all orders effective by 1998-01-01") answered at two TRANSACTION
    times — before and after a batch of late price corrections was
    recorded — returns different revenue, which is exactly what a
    restatement-aware warehouse must do (and what `scd2_history`'s
    single time axis cannot express). Versions carry (valid_ts,
    recorded_ts); per knowledge point the latest recorded version <=
    K of each key wins (row_number argmax over the per-key shuffle).
    The two knowledge points fan out via a broadcast 2-row table; the
    version log is scanned once. The reproducible-restatement pattern:
    yesterday's report re-run today gives yesterday's numbers."""
    o = load(spark, sf_dir, "orders")
    v1 = o.select(
        "o_orderkey",
        F.col("o_orderdate").alias("valid_ts"),
        F.col("o_orderdate").alias("recorded_ts"),
        F.col("o_totalprice").alias("price"),
    )
    v2 = o.filter(F.col("o_orderkey") % 5 == 2).select(
        "o_orderkey",
        F.col("o_orderdate").alias("valid_ts"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("recorded_ts"),
        (F.col("o_totalprice") + 5.0).alias("price"),
    )
    versions = v1.unionByName(v2)
    ks = spark.createDataFrame(
        [("1998-01-15 00:00:00",), ("1998-06-01 00:00:00",)], "known_as_of string"
    ).select(F.col("known_as_of").cast("timestamp").alias("known_as_of"))
    visible = versions.filter(
        F.col("valid_ts") <= F.lit("1998-01-01 00:00:00").cast("timestamp")
    ).join(
        F.broadcast(ks), F.col("recorded_ts") <= F.col("known_as_of")
    )
    w = Window.partitionBy("known_as_of", "o_orderkey").orderBy(
        F.col("recorded_ts").desc()
    )
    latest = visible.select(
        "known_as_of", "price", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") == 1)
    return latest.groupBy("known_as_of").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (
            F.sum((F.col("price") * 100).cast("decimal(38,0)")).cast("double")
            / 100
        ).alias("revenue"),
    )


@register(
    "funnel_latency_quantiles",
    """
WITH delays AS (
  SELECT v.event_id,
         CAST(MIN(epoch_us(p.ts)) - epoch_us(v.ts) AS BIGINT) AS d
  FROM (SELECT * FROM events WHERE event_type = 'view') v
  JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
    ON v.user_id = p.user_id
   AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 7 DAY
  GROUP BY v.event_id, v.ts
),
bounds AS (
  SELECT MIN(d) AS mn, MAX(d) - MIN(d) + 1 AS span, COUNT(*) AS n FROM delays
),
hist AS (
  SELECT ((dl.d - b.mn) * 256) // b.span AS bucket, COUNT(*) AS cnt
  FROM delays dl, bounds b GROUP BY 1
),
cum AS (
  SELECT bucket, cnt,
         SUM(cnt) OVER (ORDER BY bucket) AS cum,
         SUM(cnt) OVER (ORDER BY bucket) - cnt AS cum_before
  FROM hist
),
qs AS (SELECT UNNEST([0.5, 0.9]) AS q),
targets AS (
  SELECT qs.q, CAST(ceil(qs.q * b.n) AS BIGINT) AS target, b.mn, b.span, b.n
  FROM qs, bounds b
),
chosen AS (
  SELECT t.q, t.target, t.mn, t.span, t.n, MIN(c.bucket) AS bucket
  FROM targets t JOIN cum c ON c.cum >= t.target
  GROUP BY t.q, t.target, t.mn, t.span, t.n
)
SELECT ch.q,
       CAST(ch.n AS BIGINT) AS n_conversions,
       ch.target AS target_rank,
       (CAST(ch.mn AS DOUBLE)
        + CAST(ch.bucket AS DOUBLE) * (CAST(ch.span AS DOUBLE) / 256.0)
        + (CAST(ch.target - c.cum_before AS DOUBLE) / CAST(c.cnt AS DOUBLE))
          * (CAST(ch.span AS DOUBLE) / 256.0)) / 1000000.0
         AS latency_seconds
FROM chosen ch JOIN cum c ON c.bucket = ch.bucket
""",
)
def q_funnel_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert percentiles (p50/p90 view -> FIRST purchase within
    7 days) through the mergeable-histogram machinery — the composition
    a product team actually ships: the as-of pairing from the funnel
    family feeds the bucket sketch from `histogram_quantile_estimate`,
    so the latency distribution needs no sort at any scale (bucket
    counts merge map-side; the quantile interpolation is the shared
    exact-integer expression tree). Delays are integer microseconds end
    to end; the only doubles are the final interpolation and the /1e6
    seconds conversion, identical in both engines."""
    ev = load(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", F.col("user_id").alias("vu"), F.col("ts").alias("vts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    delays = (
        views.join(
            purchases,
            (F.col("vu") == F.col("pu"))
            & (F.col("pts") > F.col("vts"))
            & (F.col("pts") <= F.col("vts") + F.expr("INTERVAL 7 DAYS")),
        )
        .groupBy("event_id", "vts")
        .agg(
            (F.min(F.unix_micros("pts")) - F.unix_micros(F.col("vts")))
            .cast("long")
            .alias("d")
        )
        # one row per converting view; consumed by bounds AND the
        # histogram — materialize so the 7-day interval join runs once
        # (20 scans / 44 Exchanges in one plan before).
        .localCheckpoint(eager=True)
    )
    bounds = delays.agg(
        F.min("d").alias("mn"),
        (F.max("d") - F.min("d") + 1).alias("span"),
        F.count(F.lit(1)).alias("n"),
    )
    hist = (
        delays.join(F.broadcast(bounds))
        .select(F.expr("((d - mn) * 256) DIV span").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bucket",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        (F.sum("cnt").over(w) - F.col("cnt")).alias("cum_before"),
    )
    targets = bounds.select(
        F.explode(F.array(F.lit(0.5), F.lit(0.9))).alias("q"), "n", "mn", "span"
    ).select(
        "q",
        F.ceil(F.col("q") * F.col("n")).cast("long").alias("target"),
        "mn",
        "span",
        "n",
    )
    # min_by carries the chosen bucket's (cnt, cum_before) through the
    # same aggregate — one cum consumer, no join-back (buckets unique per
    # group, so the interpolation inputs are bit-identical).
    chosen = (
        F.broadcast(targets)
        .join(cum, F.col("cum") >= F.col("target"))
        .groupBy("q", "target", "mn", "span", "n")
        .agg(
            F.min("bucket").alias("bucket"),
            F.min_by(F.struct("cnt", "cum_before"), "bucket").alias("cc"),
        )
    )
    width = F.col("span").cast("double") / F.lit(256.0)
    est_us = (
        F.col("mn").cast("double")
        + F.col("bucket").cast("double") * width
        + (
            (F.col("target") - F.col("cc.cum_before")).cast("double")
            / F.col("cc.cnt").cast("double")
        )
        * width
    )
    return chosen.select(
        "q",
        F.col("n").cast("long").alias("n_conversions"),
        F.col("target").alias("target_rank"),
        (est_us / F.lit(1000000.0)).alias("latency_seconds"),
    )


# --- k-core decomposition by iterative peeling --------------------------------


_KCORE_K = 25
_KCORE_ROUNDS = 6


def _kcore_bipartite_oracle(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    steps = []
    prev = "e0"
    for r in range(1, rounds + 1):
        # AS MATERIALIZED: each round references the previous round's edges
        # three times; DuckDB inlines plain CTEs per reference, which makes
        # the unrolled chain exponential (measured 145 s -> ms here).
        steps.append(
            f"""dc{r} AS (SELECT c, COUNT(*) AS d FROM {prev} GROUP BY c),
ds{r} AS (SELECT s, COUNT(*) AS d FROM {prev} GROUP BY s),
e{r} AS MATERIALIZED (
  SELECT e.c, e.s FROM {prev} e
  JOIN dc{r} ON e.c = dc{r}.c JOIN ds{r} ON e.s = ds{r}.s
  WHERE dc{r}.d >= {k} AND ds{r}.d >= {k})"""
        )
        prev = f"e{r}"
    steps_sql = ",\n".join(steps)
    return f"""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
{steps_sql}
SELECT node, side, CAST(degree AS BIGINT) AS degree FROM (
  SELECT 'C' || CAST(c AS VARCHAR) AS node, 'customer' AS side,
         COUNT(*) AS degree FROM {prev} GROUP BY c
  UNION ALL
  SELECT 'S' || CAST(s AS VARCHAR) AS node, 'supplier' AS side,
         COUNT(*) AS degree FROM {prev} GROUP BY s)
"""


@register("kcore_bipartite", _kcore_bipartite_oracle())
def q_kcore_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the bipartite customer-supplier trade graph (Seidman
    1983; the standard dense-subgraph / spam-cluster / power-user
    extractor) by iterative peeling: drop every node with degree < k,
    recompute degrees, repeat. A FIXED round count (6) replaces
    run-to-fixpoint so the result is a deterministic function of the
    data both engines unroll identically (the pagerank/k-means
    convention; production runs iterate until an empty diff with the
    same per-round plan). Returns surviving nodes with their in-core
    degree.

    Scale shape: each round is two degree aggregations + two joins
    back onto the shrinking edge list — all keyed by node id, the
    natural shuffle partitioning; the edge list only ever shrinks, so
    round cost is monotone non-increasing. No adjacency matrix, no
    per-node state beyond a degree count."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    e = (
        li.select("l_orderkey", "l_suppkey")
        .join(o.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # peel reads its input edges three times, so rounds run one per job.
    def peel(e: DataFrame) -> DataFrame:
        dc = e.groupBy("c").agg(F.count(F.lit(1)).alias("dcn"))
        ds = e.groupBy("s").agg(F.count(F.lit(1)).alias("dsn"))
        return (
            e.join(dc, "c")
            .join(F.broadcast(ds), "s")
            .filter((F.col("dcn") >= _KCORE_K) & (F.col("dsn") >= _KCORE_K))
            .select("c", "s")
        )

    e = iterate(e.localCheckpoint(), peel, _KCORE_ROUNDS)[-1]
    cust = e.groupBy("c").agg(F.count(F.lit(1)).alias("degree")).select(
        F.concat(F.lit("C"), F.col("c").cast("string")).alias("node"),
        F.lit("customer").alias("side"),
        F.col("degree").cast("bigint").alias("degree"),
    )
    supp = e.groupBy("s").agg(F.count(F.lit(1)).alias("degree")).select(
        F.concat(F.lit("S"), F.col("s").cast("string")).alias("node"),
        F.lit("supplier").alias("side"),
        F.col("degree").cast("bigint").alias("degree"),
    )
    return cust.unionByName(supp)


# --- t-closeness audit --------------------------------------------------------


@register(
    "t_closeness_audit",
    """
WITH dec AS (
  SELECT c_nationkey, c_mktsegment,
         LEAST(10, (CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                    + 100000) // 100000) AS b
  FROM customer),
n_all AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM dec),
btab(b) AS (VALUES (0), (1), (2), (3), (4), (5), (6), (7), (8), (9), (10)),
gtot AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cnt FROM dec GROUP BY b),
gcum AS (
  SELECT bt.b, CAST(COALESCE(SUM(g.cnt), 0) AS BIGINT) AS cum_all
  FROM btab bt LEFT JOIN gtot g ON g.b <= bt.b GROUP BY bt.b),
grp AS (
  SELECT c_nationkey, c_mktsegment, b, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM dec GROUP BY 1, 2, 3),
gsz AS (
  SELECT c_nationkey, c_mktsegment, CAST(SUM(cnt) AS BIGINT) AS ng
  FROM grp GROUP BY 1, 2),
cells AS (
  SELECT gz.c_nationkey, gz.c_mktsegment, gz.ng, gc.b, gc.cum_all,
         CAST(COALESCE(SUM(g.cnt), 0) AS BIGINT) AS cum_g
  FROM gsz gz
  CROSS JOIN gcum gc
  LEFT JOIN grp g
    ON g.c_nationkey = gz.c_nationkey AND g.c_mktsegment = gz.c_mktsegment
   AND g.b <= gc.b
  GROUP BY 1, 2, 3, 4, 5),
emd AS (
  SELECT c_nationkey, c_mktsegment, ng,
         CAST(SUM(CASE WHEN b < 10
                       THEN ABS(cum_g * n_all.nn - cum_all * ng) ELSE 0 END)
              AS BIGINT) AS emd_units,
         CAST(MAX(n_all.nn) AS BIGINT) AS nn
  FROM cells CROSS JOIN n_all
  GROUP BY 1, 2, 3)
SELECT CAST(c_nationkey AS BIGINT) AS nationkey, c_mktsegment AS mktsegment,
       ng AS group_size, emd_units,
       ROUND(CAST(emd_units AS DOUBLE) / (CAST(ng AS DOUBLE) * nn * 10), 6)
         AS t_closeness,
       CAST(CASE WHEN CAST(emd_units AS DOUBLE) / (CAST(ng AS DOUBLE) * nn * 10)
                      > 0.15 THEN 1 ELSE 0 END AS INT) AS breach
FROM emd
""",
)
def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian ICDE'07) — the
    release check beyond k-anonymity and l-diversity: a quasi-identifier
    group can be large AND diverse yet still leak if its sensitive-value
    DISTRIBUTION deviates from the table's (skewness attack). Sensitive
    attribute = account balance discretized into 11 fixed $1,000-wide
    value buckets (ordered); per (nation, mktsegment) group, Earth
    Mover's Distance to the global bucket distribution, which for an
    ordered attribute with unit ground distance is the mean absolute
    difference of cumulative shares divided by m-1. Groups with
    t > 0.15 are flagged for suppression — completing the privacy trio
    with `k_anonymity_report` and `l_diversity_report`.

    Determinism: bucketing is INTEGER arithmetic on exact cents (shifted
    non-negative so truncating and flooring division agree across
    engines — landmine 13); the EMD numerator is computed over a COMMON
    integer denominator (|cum_g*N - cum_all*n_g|, exact int64 — no
    per-group float shares), with one double division rounded once.

    Scale shape: value bucketing (vs the quantile alternative) is
    deliberate — it is map-side computable with NO global sort or
    window anywhere in the plan; the only data-sized stages are the two
    hash aggregates on (group, bucket). Cumulatives come from <=11-row
    literal-frame joins, and every later frame is (groups x 11)
    bounded."""
    cust = load(spark, sf_dir, "customer")
    dec = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.least(F.lit(10), F.expr(
            "(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) + 100000)"
            " DIV 100000"
        )).alias("b"),
    )
    btab = spark.createDataFrame([(b,) for b in range(11)], "lb bigint")
    # (group, bucket) counts subsume the scalar total and the global
    # bucket histogram (both are exact re-aggregations), so the customer
    # scan feeds ONE materialized rollup instead of three aggregates.
    grp = dec.groupBy("c_nationkey", "c_mktsegment", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ).localCheckpoint(eager=True)
    n_all = grp.agg(F.sum("cnt").cast("bigint").alias("nn"))
    gtot = grp.groupBy("b").agg(F.sum("cnt").cast("bigint").alias("cnt"))
    gcum = (
        btab.join(F.broadcast(gtot), F.col("b") <= F.col("lb"), "left")
        .groupBy("lb")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("cum_all"))
    )
    gsz = grp.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("cnt").cast("bigint").alias("ng")
    )
    cells = (
        gsz.crossJoin(F.broadcast(gcum))
        .join(
            grp.select(
                F.col("c_nationkey").alias("gn"),
                F.col("c_mktsegment").alias("gm"),
                F.col("b").alias("gb"),
                "cnt",
            ),
            (F.col("gn") == F.col("c_nationkey"))
            & (F.col("gm") == F.col("c_mktsegment"))
            & (F.col("gb") <= F.col("lb")),
            "left",
        )
        .groupBy("c_nationkey", "c_mktsegment", "ng", "lb", "cum_all")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("cum_g"))
    )
    emd = (
        cells.crossJoin(F.broadcast(n_all))
        .groupBy("c_nationkey", "c_mktsegment", "ng")
        .agg(
            F.sum(
                F.when(
                    F.col("lb") < 10,
                    F.abs(
                        F.col("cum_g") * F.col("nn")
                        - F.col("cum_all") * F.col("ng")
                    ),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("emd_units"),
            F.max("nn").cast("bigint").alias("nn"),
        )
    )
    t = F.col("emd_units").cast("double") / (
        F.col("ng").cast("double") * F.col("nn") * 10
    )
    return emd.select(
        F.col("c_nationkey").cast("bigint").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("ng").alias("group_size"),
        "emd_units",
        F.round(t, 6).alias("t_closeness"),
        F.when(t > 0.15, 1).otherwise(0).cast("int").alias("breach"),
    )


# --- Shapley-value channel attribution ----------------------------------------


@register(
    "shapley_attribution",
    """
WITH fp AS (
  SELECT user_id, MIN(ts) AS pts FROM events
  WHERE event_type = 'purchase' GROUP BY 1),
pre AS (
  SELECT DISTINCT e.user_id, e.event_type AS ch
  FROM events e JOIN fp ON e.user_id = fp.user_id
  WHERE e.ts < fp.pts AND e.event_type <> 'purchase'),
chs AS (
  SELECT ch, CAST(ROW_NUMBER() OVER (ORDER BY ch) - 1 AS BIGINT) AS bit
  FROM (SELECT DISTINCT ch FROM pre)),
kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM chs),
um AS (
  SELECT p.user_id, CAST(SUM(1 << c.bit) AS BIGINT) AS mask
  FROM pre p JOIN chs c ON p.ch = c.ch GROUP BY 1),
mc AS (SELECT mask, CAST(COUNT(*) AS BIGINT) AS cnt FROM um GROUP BY 1),
subs AS (
  SELECT s.s AS s FROM kk,
  LATERAL unnest(generate_series(0, (1 << kk.k) - 1)) AS s(s)),
v AS (
  SELECT s.s, CAST(COALESCE(SUM(mc.cnt), 0) AS BIGINT) AS v
  FROM subs s LEFT JOIN mc ON (mc.mask & s.s) = mc.mask GROUP BY s.s),
fact(i, f) AS (VALUES (0, 1), (1, 1), (2, 2), (3, 6), (4, 24), (5, 120),
                      (6, 720), (7, 5040), (8, 40320)),
contrib AS (
  SELECT c.ch, fs.f * fk.f * (vw.v - vo.v) AS u
  FROM chs c CROSS JOIN kk
  JOIN v vo ON (vo.s & (1 << c.bit)) = 0
  JOIN v vw ON vw.s = vo.s + (1 << c.bit)
  JOIN fact fs ON fs.i = bit_count(vo.s)
  JOIN fact fk ON fk.i = kk.k - 1 - bit_count(vo.s)),
tot AS (
  SELECT CAST(MAX(v.v) AS BIGINT) AS nconv
  FROM v CROSS JOIN kk WHERE v.s = (1 << kk.k) - 1)
SELECT c2.ch AS channel,
       CAST(SUM(u) AS BIGINT) AS shapley_units,
       CAST(kk.k AS BIGINT) AS n_channels,
       tot.nconv AS n_attributed,
       ROUND(CAST(CAST(SUM(u) AS BIGINT) AS DOUBLE) / (fkk.f * tot.nconv), 6)
         AS credit_share
FROM contrib c2 CROSS JOIN kk CROSS JOIN tot
JOIN fact fkk ON fkk.i = kk.k
GROUP BY c2.ch, kk.k, tot.nconv, fkk.f
""",
)
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value multi-touch attribution (Shapley '53; the
    coalition-game credit rule behind Google Analytics' data-driven
    attribution): each converter's pre-purchase channel SET is a
    coalition; v(S) counts converters whose whole journey fits inside
    S; channel c's credit is the factorial-weighted average of its
    marginal contributions v(S+c) - v(S) over all subsets. Unlike
    `attribution_linear` (equal split), Shapley rewards channels that
    convert WITHOUT help and discounts free-riders — and it is the
    unique rule that is efficient, symmetric, and dummy-free.

    Determinism: everything is exact integers — coalition values are
    subset-sum counts, the |S|!(k-1-|S|)!/k! weights are scaled by k!
    into the inlined factorial literal table, and the single double
    division (credit share) happens once, rounded once. Efficiency
    (sum of shares = 1) is exact by construction.

    Scale shape: the data-sized stages are first-purchase + distinct
    (user, channel) + the user-mask aggregate — all keyed by user_id.
    Everything after runs on <= 2^k-row frames (k = channel count,
    here 4): the subset lattice, both v lookups, and the weighted
    marginal sum are broadcast-joined literals-sized work. The channel
    index window sits over an explicitly .limit(8)-bounded distinct."""
    ev = load(spark, sf_dir, "events")
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("pts"))
    )
    pre = (
        ev.join(F.broadcast(fp), "user_id")
        .filter((F.col("ts") < F.col("pts")) & (F.col("event_type") != "purchase"))
        .select("user_id", F.col("event_type").alias("ch"))
        .distinct()
        # (user, channel)-sized, consumed by the channel index AND the
        # user-mask rollup — materialize so the first-purchase join runs
        # once (48 events scans / 130 Exchanges in one plan before: every
        # <=2^k-row lattice frame below re-derived this chain per use).
        .localCheckpoint(eager=True)
    )
    chs = (
        pre.select("ch")
        .distinct()
        .limit(8)  # channel-bounded frame below the indexing window
        .select(
            "ch",
            (F.row_number().over(Window.orderBy("ch")) - 1)
            .cast("bigint")
            .alias("bit"),
        )
        .localCheckpoint(eager=True)  # <= 8 rows, >= 3 consumers
    )
    kk = chs.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    um = (
        pre.join(F.broadcast(chs), "ch")
        .groupBy("user_id")
        .agg(
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"))
            .cast("bigint")
            .alias("mask")
        )
    )
    mc = um.groupBy("mask").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    subs = kk.select(
        F.explode(
            F.expr("sequence(CAST(0 AS BIGINT),"
                   " shiftleft(CAST(1 AS BIGINT), CAST(k AS INT)) - 1)")
        ).alias("s")
    )
    v = (
        subs.join(
            F.broadcast(mc),
            F.expr("(mask & s) = mask"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("v"))
        .localCheckpoint(eager=True)  # 2^k rows, 3 consumers (vo, vw, tot)
    )
    fact = spark.createDataFrame(
        [(i, f) for i, f in
         [(0, 1), (1, 1), (2, 2), (3, 6), (4, 24), (5, 120),
          (6, 720), (7, 5040), (8, 40320)]],
        "i bigint, f bigint",
    )
    vo = v.select(F.col("s").alias("so"), F.col("v").alias("vo"))
    vw = v.select(F.col("s").alias("sw"), F.col("v").alias("vw"))
    contrib = (
        chs.crossJoin(F.broadcast(kk))
        .join(
            F.broadcast(vo),
            F.expr("(so & shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))) = 0"),
        )
        .join(
            F.broadcast(vw),
            F.expr("sw = so + shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"),
        )
        .join(F.broadcast(fact.select(F.col("i").alias("fi"),
                                      F.col("f").alias("fs"))),
              F.expr("fi = bit_count(so)"))
        .join(F.broadcast(fact.select(F.col("i").alias("fj"),
                                      F.col("f").alias("fk"))),
              F.expr("fj = k - 1 - bit_count(so)"))
        .select("ch", "k",
                (F.col("fs") * F.col("fk") * (F.col("vw") - F.col("vo")))
                .alias("u"))
    )
    tot = (
        v.crossJoin(F.broadcast(kk))
        .filter(F.expr("s = shiftleft(CAST(1 AS BIGINT), CAST(k AS INT)) - 1"))
        .select(F.col("v").cast("bigint").alias("nconv"))
    )
    return (
        contrib.crossJoin(F.broadcast(tot))
        .join(F.broadcast(fact.select(F.col("i").alias("ki"),
                                      F.col("f").alias("kf"))),
              F.expr("ki = k"))
        .groupBy("ch", "k", "nconv", "kf")
        .agg(F.sum("u").cast("bigint").alias("shapley_units"))
        .select(
            F.col("ch").alias("channel"),
            "shapley_units",
            F.col("k").cast("bigint").alias("n_channels"),
            F.col("nconv").alias("n_attributed"),
            F.round(
                F.col("shapley_units").cast("double")
                / (F.col("kf") * F.col("nconv")),
                6,
            ).alias("credit_share"),
        )
    )


# --- transformWithState sessionizer as a driver-facing query -------------------


@register(
    "streaming_sessions_tws",
    """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                IS NULL
                OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events WHERE ts IS NOT NULL),
sess AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged),
agg AS (
  SELECT user_id, sid, MIN(ts) AS session_start, MAX(ts) AS session_end,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM sess GROUP BY user_id, sid),
mx AS (
  SELECT *, MAX(sid) OVER (PARTITION BY user_id) AS max_sid FROM agg)
SELECT user_id, session_start, session_end, n_events
FROM mx WHERE sid < max_sid
""",
)
def q_streaming_sessions_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization on `transformWithStateInPandas` — Spark 4's
    typed-state stateful API (SPARK-49564), running against the real
    worker protocol (protobuf state messages, RocksDB state store) as a
    driver-facing query, completing the sessionization ladder's last
    rung IN the registry (manual windows, batch session_window,
    streaming session_window, applyInPandasWithState, and now
    transformWithState).

    Closed-session semantics make this oracle-exact: the processor
    emits a session only when a LATER event proves the >30 min silence,
    so each user's final (still-open) session stays in state — the
    oracle is gaps-and-islands MINUS every user's last island, with
    session_end = last event inside the island. One availableNow drain
    over the static table == the incremental answer (state is one
    bounded struct per user; RocksDB-backed at cluster scale)."""
    from taxi_data_datapipeline_spark.streaming.sessions_tws import (
        sessionize_stream_tws,
    )

    # A session of its own for the RocksDB provider: the stream session (or
    # the caller's, when the partition count already matches) is shared by
    # concurrent drains, so its conf must never change.
    rocksdb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    spark = _session_like(
        _stream_session(spark, sf_dir),
        {"spark.sql.streaming.stateStore.providerClass": rocksdb},
    )
    raw = _stream_events(spark, sf_dir).select("user_id", "ts")
    sessions = sessionize_stream_tws(raw, gap_seconds=30 * 60)
    return drain(sessions, "update").select(
        "user_id",
        "session_start",
        "session_end",
        F.col("n_events").cast("bigint").alias("n_events"),
    )
