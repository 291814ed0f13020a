"""Statistical / diagnostic analytics tier: autocorrelation, smoothing,
independence testing, latest-record dedup, graph neighborhood similarity,
BPE pair statistics, and curation rule funnels.

Everything here follows the engine's exactness conventions (queries.py
module docstring): integer/fixed-point arithmetic end-to-end with ONE
final double division or a floor-scaled unit sum, so Spark and DuckDB
emit bit-identical values regardless of partitioning or evaluation
order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from taxi_data_datapipeline_spark.functions.text import (
    bpe_ish_tokens,
    quality_features,
)
from taxi_data_datapipeline_spark.operators.iterate import iterate, round_rows
from taxi_data_datapipeline_spark.queries import load, register, shared
from taxi_data_datapipeline_spark.streaming import drain

# Same tokenizer contracts as queries_advanced / queries_data.
_SQL_SUBTOKS = (
    r"list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), t -> t != '')"
)
_SQL_WS_TOKS = r"list_filter(string_split_regex(text, '\s+'), t -> t != '')"


# --- autocorrelation ----------------------------------------------------------


_ACF_MAX_LAG = 7


@register(
    "acf_daily_counts",
    f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x FROM events GROUP BY 1),
st AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s FROM daily),
dev AS (SELECT day, n * x - s AS d FROM daily CROSS JOIN st),
den AS (SELECT CAST(SUM(d * d) AS BIGINT) AS den FROM dev),
lags AS (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS lag),
num AS (
  SELECT l.lag, COUNT(*) AS n_pairs, CAST(SUM(d1.d * d2.d) AS BIGINT) AS num
  FROM lags l
  JOIN dev d1 ON true
  JOIN dev d2 ON d2.day = d1.day + CAST(l.lag AS INTEGER)
  GROUP BY l.lag)
SELECT num.lag, num.n_pairs,
       ROUND(CAST(num.num AS DOUBLE) / den.den, 6) AS acf
FROM num CROSS JOIN den
""",
)
def q_acf_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the global daily event-count series at lags
    1..7 (the weekly-seasonality diagnostic an event pipeline runs before
    picking a forecast model).

    Exactness: with n days and sum s, the deviation is scaled to the
    integer ``n*x - s`` (= n * (x - mean)); numerator and denominator are
    then EXACT bigint sums and the ACF is one double division, rounded
    once — identical in both engines. The daily series is aggregate-sized
    (one row per day), so the lag self-join and the scalar broadcasts are
    free at any corpus scale; the only data-sized shuffle is the first
    day rollup. At 100 TB the bigint products stay far inside int64 for
    any realistic day count; a DECIMAL(38) widening is the guard if daily
    volumes ever exceed ~3e9 x 3e9 products."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    st = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    dev = daily.crossJoin(F.broadcast(st)).select(
        "day", (F.col("n") * F.col("x") - F.col("s")).alias("d")
    )
    den = dev.agg(F.sum(F.col("d") * F.col("d")).alias("den"))
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    d1 = dev.crossJoin(F.broadcast(lags))
    d2 = dev.select(F.col("day").alias("day2"), F.col("d").alias("d2"))
    num = (
        d1.join(
            F.broadcast(d2),
            F.col("day2") == F.expr("date_add(day, lag)"),
        )
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("d") * F.col("d2")).alias("num"),
        )
    )
    return num.crossJoin(F.broadcast(den)).select(
        "lag",
        "n_pairs",
        F.round(F.col("num").cast("double") / F.col("den"), 6).alias("acf"),
    )


# --- dyadic-weight EWMA -------------------------------------------------------


_EWMA_TAPS = 8  # weights 2^7 .. 2^0 over the trailing 8 observations


@register(
    "ewma_event_types",
    f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
l AS (
  SELECT event_type, day, n,
         {", ".join(
             f"LAG(n, {k}) OVER (PARTITION BY event_type ORDER BY day) AS x{k}"
             for k in range(_EWMA_TAPS)
         )}
  FROM daily)
SELECT event_type, day, n,
       ROUND(CAST({" + ".join(
           f"COALESCE(x{k}, 0) * {2 ** (_EWMA_TAPS - 1 - k)}"
           for k in range(_EWMA_TAPS)
       )} AS DOUBLE)
             / ({" + ".join(
                 f"CASE WHEN x{k} IS NULL THEN 0 ELSE {2 ** (_EWMA_TAPS - 1 - k)} END"
                 for k in range(_EWMA_TAPS)
             )}), 6) AS ewma
FROM l
""",
)
def q_ewma_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily event counts per
    type, with DYADIC weights 2^7..2^0 over the trailing 8 observations.
    Powers of two keep every weighted term an exact integer — the whole
    smoother is integer arithmetic with one final double division, so
    both engines agree bit-for-bit (a float alpha^k ladder would not).
    Early rows renormalize over the taps actually present instead of
    padding with zeros. One shuffle (daily rollup); the window is
    partitioned by event_type — no global sort anywhere."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    xs = [F.lag("n", k).over(w) for k in range(_EWMA_TAPS)]
    weights = [2 ** (_EWMA_TAPS - 1 - k) for k in range(_EWMA_TAPS)]
    num = sum(
        (F.coalesce(x, F.lit(0)) * F.lit(wt) for x, wt in zip(xs, weights)),
        start=F.lit(0),
    )
    den = sum(
        (F.when(x.isNull(), 0).otherwise(wt) for x, wt in zip(xs, weights)),
        start=F.lit(0),
    )
    return daily.select(
        "event_type",
        "day",
        "n",
        F.round(num.cast("double") / den, 6).alias("ewma"),
    )


# --- chi-square independence test ---------------------------------------------


@register(
    "chi2_type_dow",
    """
WITH o AS (
  SELECT event_type, dayofweek(CAST(ts AS DATE)) AS dw, COUNT(*) AS o
  FROM events GROUP BY 1, 2),
rs AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS rs FROM o GROUP BY 1),
cs AS (SELECT dw, CAST(SUM(o) AS BIGINT) AS cs FROM o GROUP BY 1),
t AS (SELECT CAST(SUM(o) AS BIGINT) AS total FROM o),
cells AS (
  SELECT CAST(FLOOR(
           (CAST(o.o * t.total - rs.rs * cs.cs AS DOUBLE)
            * CAST(o.o * t.total - rs.rs * cs.cs AS DOUBLE)
            / (CAST(rs.rs AS DOUBLE) * cs.cs * t.total))
           * 1000000000.0) AS BIGINT) AS cell_units
  FROM o JOIN rs USING (event_type) JOIN cs USING (dw) CROSS JOIN t),
dims AS (
  SELECT COUNT(DISTINCT event_type) AS n_types, COUNT(DISTINCT dw) AS n_dows
  FROM o)
SELECT dims.n_types, dims.n_dows,
       (dims.n_types - 1) * (dims.n_dows - 1) AS dof,
       ROUND(CAST(SUM(cells.cell_units) AS BIGINT) / 1000000000.0, 6) AS chi2
FROM cells CROSS JOIN dims
GROUP BY dims.n_types, dims.n_dows
""",
)
def q_chi2_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square statistic for event_type x day-of-week
    independence — the standard drift/independence screen over a
    contingency table.

    Exactness: each cell's (o - e)^2 / e is rewritten over integers as
    (o*total - rs*cs)^2 / (rs*cs*total); the squared term is computed in
    double FROM THE SAME exact integer in both engines, floor-scaled to
    1e-9 units, and summed as exact bigints — the usual double-sum
    order-dependence never arises. The contingency table is
    aggregate-sized (types x 7), so everything above the first rollup is
    broadcast work."""
    ev = load(spark, sf_dir, "events")
    # types x 7 contingency, FIVE consumers (rs, cs, t, cells, dims) —
    # materialize so the events rollup runs once (10 scans / 28 Exchanges
    # in one plan before).
    o = ev.groupBy(
        "event_type", F.dayofweek(F.col("ts").cast("date")).alias("dw")
    ).agg(F.count(F.lit(1)).alias("o")).localCheckpoint(eager=True)
    rs = o.groupBy("event_type").agg(F.sum("o").alias("rs"))
    cs = o.groupBy("dw").agg(F.sum("o").alias("cs"))
    t = o.agg(F.sum("o").alias("total"))
    num = (F.col("o") * F.col("total") - F.col("rs") * F.col("cs")).cast(
        "double"
    )
    cell = F.floor(
        (num * num / (F.col("rs").cast("double") * F.col("cs") * F.col("total")))
        * F.lit(1000000000.0)
    ).cast("bigint")
    cells = (
        o.join(F.broadcast(rs), "event_type")
        .join(F.broadcast(cs), "dw")
        .crossJoin(F.broadcast(t))
        .select(cell.alias("cell_units"))
    )
    dims = o.agg(
        F.count_distinct("event_type").alias("n_types"),
        F.count_distinct("dw").alias("n_dows"),
    )
    return (
        cells.crossJoin(F.broadcast(dims))
        .groupBy("n_types", "n_dows")
        .agg(
            ((F.col("n_types") - 1) * (F.col("n_dows") - 1)).alias("dof"),
            F.round(F.sum("cell_units") / F.lit(1000000000.0), 6).alias("chi2"),
        )
        .select("n_types", "n_dows", "dof", "chi2")
    )


# --- latest-record dedup (QUALIFY pattern) ------------------------------------


@register(
    "qualify_latest_event",
    """
SELECT user_id, event_id, ts AS last_ts, event_type, value
FROM events
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
""",
)
def q_qualify_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per user — the QUALIFY / row_number()=1 idiom every
    warehouse uses for current-state extraction from an append-only log.
    Tie-broken by event_id for a deterministic total order. One shuffle
    on user_id; at scale this is the textbook candidate for pre-bucketed
    storage on the same key, which would remove the exchange entirely."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            F.col("ts").alias("last_ts"),
            "event_type",
            "value",
        )
    )


# --- neighborhood similarity on the co-purchase graph -------------------------


@register(
    "neighbor_jaccard",
    """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
common AS (
  SELECT e.a, e.b, COUNT(*) AS c
  FROM e
  JOIN sym sa ON sa.u = e.a
  JOIN sym sb ON sb.u = e.b AND sb.v = sa.v
  GROUP BY e.a, e.b)
SELECT e.a, e.b, COALESCE(c.c, 0) AS common_neighbors,
       da.d + db.d - COALESCE(c.c, 0) AS union_neighbors,
       ROUND(CAST(COALESCE(c.c, 0) AS DOUBLE)
             / (da.d + db.d - COALESCE(c.c, 0)), 6) AS jaccard
FROM e
JOIN deg da ON e.a = da.u
JOIN deg db ON e.b = db.u
LEFT JOIN common c ON e.a = c.a AND e.b = c.b
ORDER BY jaccard DESC, e.a, e.b
LIMIT 50
""",
)
def q_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 co-purchase edges by neighborhood Jaccard similarity
    (|N(a) n N(b)| / |N(a) u N(b)|) — the link-prediction / taxonomy
    feature computed from the shared memoized pair-count table.

    Common neighbors come from sorted-adjacency ``array_intersect`` on
    the two endpoints (the triangle_stats formulation,
    operators/graphs.py:95): the join moves EDGE-count rows, never
    wedge-count rows — a wedge self-join on this dense co-occurrence
    graph shuffles ~30x more rows and benched 40 s vs ~8 s for this
    plan at sf0.1. Degrees fall out of the same arrays for free (da =
    size(nbrs)). A celebrity node's array is the hub hazard; the
    degree-oriented O(sqrt(m))-bounded variant is the escape hatch if
    one appears. Jaccard is one double division of exact integers;
    ordering is on the rounded value with an (a, b) tiebreak, so the
    limit cut is engine-independent and ``TakeOrderedAndProject`` keeps
    the top-50 a per-partition heap, not a global sort."""
    from taxi_data_datapipeline_spark.queries_advanced import _copurchase_edges

    e = _copurchase_edges(spark, sf_dir)
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    adj = sym.groupBy("u").agg(F.sort_array(F.collect_list("v")).alias("nbrs"))
    c = F.size(F.array_intersect(F.col("na"), F.col("nb")))
    da, db = F.size(F.col("na")), F.size(F.col("nb"))
    return (
        e.join(adj.select(F.col("u").alias("a"), F.col("nbrs").alias("na")).hint("shuffle_hash"), "a")
        .join(adj.select(F.col("u").alias("b"), F.col("nbrs").alias("nb")).hint("shuffle_hash"), "b")
        .select(
            "a",
            "b",
            c.cast("bigint").alias("common_neighbors"),
            (da + db - c).cast("bigint").alias("union_neighbors"),
            F.round(c.cast("double") / (da + db - c), 6).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "a", "b")
        .limit(50)
    )


# --- BPE merge statistics -----------------------------------------------------


@register(
    "bpe_pair_counts",
    f"""
WITH toks AS (SELECT unnest({_SQL_SUBTOKS}) AS word FROM documents),
words AS (SELECT word, COUNT(*) AS wc FROM toks GROUP BY word),
pairs AS (
  SELECT substr(w.word, CAST(i.i AS INTEGER), 2) AS pair, w.wc
  FROM words w,
       LATERAL unnest(generate_series(1, length(w.word) - 1)) AS i(i)
  WHERE length(w.word) >= 2)
SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt
FROM pairs GROUP BY pair
ORDER BY cnt DESC, pair
LIMIT 50
""",
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-weighted adjacent-character-pair frequencies — the first
    merge-candidate table of a BPE tokenizer build (Sennrich et al.,
    ACL 2016). The corpus collapses to its VOCABULARY before any pair
    work: explode tokens -> word counts (one corpus-sized shuffle), then
    pair generation runs over the aggregate-sized word table with
    per-word multiplicity carried as a weight. Intra-word repeats
    ("aaa" -> "aa" twice) are counted by position, matching the
    reference algorithm. Top-50 via ``TakeOrderedAndProject``."""
    docs = load(spark, sf_dir, "documents", fan_out=True)
    words = (
        docs.select(F.explode(bpe_ish_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
        .filter(F.length("word") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair"),
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(50)
    )


# --- curation rule funnel -----------------------------------------------------


@register(
    "quality_rule_funnel",
    rf"""
WITH f AS (
  SELECT source,
         len({_SQL_WS_TOKS}) AS n_tokens,
         ROUND(CAST(length(text) - len({_SQL_WS_TOKS}) + 1 AS DOUBLE)
               / len({_SQL_WS_TOKS}), 6) AS avg_word_len,
         ROUND(CAST(length(regexp_replace(text, '[^\.,;:!\?]', '', 'g')) AS DOUBLE)
               / length(text), 6) AS punct_ratio,
         ROUND(CAST(len(list_filter({_SQL_WS_TOKS},
                    t -> lower(t) IN ('the','and','of','to','a','in','is','it'))) AS DOUBLE)
               / len({_SQL_WS_TOKS}), 6) AS stopword_ratio
  FROM documents)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0 ELSE 1 END) AS BIGINT) AS fail_length,
       CAST(SUM(CASE WHEN avg_word_len BETWEEN 2.0 AND 12.0 THEN 0 ELSE 1 END) AS BIGINT) AS fail_word_len,
       CAST(SUM(CASE WHEN stopword_ratio >= 0.01 THEN 0 ELSE 1 END) AS BIGINT) AS fail_stopword,
       CAST(SUM(CASE WHEN punct_ratio <= 0.2 THEN 0 ELSE 1 END) AS BIGINT) AS fail_punct,
       CAST(SUM(CASE WHEN n_tokens BETWEEN 10 AND 100000
                      AND avg_word_len BETWEEN 2.0 AND 12.0
                      AND stopword_ratio >= 0.01
                      AND punct_ratio <= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
FROM f GROUP BY source
""",
)
def q_quality_rule_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style curation rule funnel (Rae et al. 2021 §A1.1 approach):
    per source, how many documents each heuristic rule rejects and how
    many survive all of them — the report a data-curation run publishes
    before committing a filter config. Reuses the exact quality_features
    expressions (functions/text.py) so the funnel and the per-document
    quality_scores query can never disagree. Single corpus scan, one
    source-keyed rollup."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    feats = quality_features("text")
    flags = d.select(
        "source",
        feats["n_tokens"].alias("n_tokens"),
        feats["avg_word_len"].alias("avg_word_len"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
    )
    ok_len = F.col("n_tokens").between(10, 100000)
    ok_wl = F.col("avg_word_len").between(2.0, 12.0)
    ok_stop = F.col("stopword_ratio") >= 0.01
    ok_punct = F.col("punct_ratio") <= 0.2
    as_fail = lambda ok: F.sum(F.when(ok, 0).otherwise(1))  # noqa: E731
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        as_fail(ok_len).alias("fail_length"),
        as_fail(ok_wl).alias("fail_word_len"),
        as_fail(ok_stop).alias("fail_stopword"),
        as_fail(ok_punct).alias("fail_punct"),
        F.sum(
            F.when(ok_len & ok_wl & ok_stop & ok_punct, 1).otherwise(0)
        ).alias("pass_all"),
    )


# --- two-sample tests (shared per-value count machinery) ----------------------


def _two_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-distinct-value counts of the purchase vs view `value` samples:
    (value, c1, c2). One shuffle keyed on value — the high-cardinality
    key, so no reducer owns a whole sample (the same skew argument as
    distinct_users_twophase)."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    return ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("c2"),
    )


# The bucketed two-phase cumulation now lives in operators/cumulative.py
# (promoted once ten query families depended on it); this alias keeps the
# module-internal call sites and tests stable.
from taxi_data_datapipeline_spark.operators.cumulative import (  # noqa: E402
    cumulative_counts as _cumulative_counts,
)


_KS_COUNTS_CTE = """
s AS (
  SELECT value,
         CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS c1,
         CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS c2
  FROM events WHERE event_type IN ('purchase', 'view') GROUP BY value),
n AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM s)
"""


@register(
    "ks_two_sample",
    f"""
WITH {_KS_COUNTS_CTE},
cum AS (
  SELECT value,
         CAST(SUM(c1) OVER (ORDER BY value) AS BIGINT) AS f1,
         CAST(SUM(c2) OVER (ORDER BY value) AS BIGINT) AS f2
  FROM s)
SELECT n.n1, n.n2, cum.value AS at_value,
       ABS(cum.f1 * n.n2 - cum.f2 * n.n1) AS d_units,
       ROUND(CAST(ABS(cum.f1 * n.n2 - cum.f2 * n.n1) AS DOUBLE)
             / (n.n1 * n.n2), 6) AS ks
FROM cum CROSS JOIN n
ORDER BY d_units DESC, at_value
LIMIT 1
""",
)
def q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the purchase
    and view `value` distributions — the standard distribution-shift
    screen between two cohorts.

    The ECDF difference is held in integers by cross-multiplying:
    D = max |f1*n2 - f2*n1| / (n1*n2), so the max and the argmax are
    exact and the statistic is one final double division. The cumulative
    counts come from the two-phase bucketed cumulation
    (_cumulative_counts) — no global window anywhere; the only full-data
    shuffle is the per-value count. TakeOrderedAndProject picks the
    arg-max row."""
    s = _two_sample_counts(spark, sf_dir)
    n = s.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    cum = _cumulative_counts(s)
    units = F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
    return (
        cum.crossJoin(F.broadcast(n))
        .select(
            "n1",
            "n2",
            F.col("value").alias("at_value"),
            units.alias("d_units"),
            F.round(
                units.cast("double") / (F.col("n1") * F.col("n2")), 6
            ).alias("ks"),
        )
        .orderBy(F.col("d_units").desc(), "at_value")
        .limit(1)
    )


@register(
    "mann_whitney_u",
    f"""
WITH {_KS_COUNTS_CTE},
cum AS (
  SELECT value, c1, c2,
         CAST(SUM(c2) OVER (ORDER BY value) - c2 AS BIGINT) AS less2
  FROM s),
u AS (SELECT CAST(SUM(c1 * (2 * less2 + c2)) AS BIGINT) AS u1_x2 FROM cum)
SELECT n.n1, n.n2, u.u1_x2,
       ROUND(u.u1_x2 / (2.0 * n.n1 * n.n2), 6) AS auc
FROM u CROSS JOIN n
""",
)
def q_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between the purchase and view value samples, with
    ties handled by the half-credit convention — reported as 2*U (an
    exact integer: each (x, y) pair contributes 2, 1, or 0) plus the
    probability-of-superiority AUC = U / (n1*n2). Shares the per-value
    count + two-phase cumulation machinery with ks_two_sample; the U sum
    needs only the STRICTLY-below cumulative, so the whole statistic is
    integer arithmetic with one double division at the end."""
    s = _two_sample_counts(spark, sf_dir)
    n = s.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    cum = _cumulative_counts(s).withColumn("less2", F.col("f2") - F.col("c2"))
    u = cum.agg(
        F.sum(
            F.col("c1") * (F.lit(2) * F.col("less2") + F.col("c2"))
        ).alias("u1_x2")
    )
    return u.crossJoin(F.broadcast(n)).select(
        "n1",
        "n2",
        "u1_x2",
        F.round(
            F.col("u1_x2") / (F.lit(2.0) * F.col("n1") * F.col("n2")), 6
        ).alias("auc"),
    )


# --- robust trend: Theil-Sen estimator ----------------------------------------


_SQL_CENTS = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


@register(
    "theil_sen_slope",
    f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM({_SQL_CENTS}) AS BIGINT) AS y
  FROM orders GROUP BY 1),
pts AS (
  SELECT datediff('day', DATE '1992-01-01', day) AS d, y FROM daily),
pairs AS (
  SELECT CAST(b.y - a.y AS DOUBLE) / (b.d - a.d) AS slope
  FROM pts a JOIN pts b ON b.d > a.d),
grp AS (SELECT slope, COUNT(*) AS c FROM pairs GROUP BY slope),
cum AS (SELECT slope, c, CAST(SUM(c) OVER (ORDER BY slope) AS BIGINT) AS f
        FROM grp),
st AS (SELECT CAST(SUM(c) AS BIGINT) AS n_pairs FROM grp),
nd AS (SELECT COUNT(*) AS n_days FROM pts)
SELECT nd.n_days, st.n_pairs, ROUND(cum.slope, 6) AS median_slope
FROM cum CROSS JOIN st CROSS JOIN nd
WHERE cum.f - cum.c < (st.n_pairs + 1) // 2
  AND (st.n_pairs + 1) // 2 <= cum.f
""",
)
def q_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily order revenue: the (lower) median
    of all pairwise slopes — the outlier-resistant alternative to OLS
    (Sen 1968). The series collapses to one row per day FIRST, so the
    O(days^2) pair set is bounded by the calendar, not the data (2,400
    TPC-H days -> ~2.9M pairs).

    Median selection is the classic DISTRIBUTED SELECTION: histogram
    the slopes into 1024 range buckets (one hash-agg), locate on the
    driver which bucket brackets rank k = (n+1)//2 (a 1024-row scalar
    collect, the kmeans convention), then TakeOrdered only INSIDE that
    bucket (~n/1024 rows) and keep its (k - rank_before)-th element.
    4 jobs / ~6 exchanges total, vs 27 aggregate-sized exchanges for
    the previous rank-by-cumulation plan (11.7 s -> ~4 s at sf0.1;
    stage latency, not data, dominated). The histogram boundaries are
    engine-internal — the RESULT is an exact element of the slope
    multiset, so the DuckDB oracle keeps its independent
    rank-by-cumulation formulation and must agree bit-for-bit. Slopes
    are exact-integer differences with one double division each, so
    both engines materialize identical doubles."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        ).alias("y")
    )
    # Checkpoint the calendar-bounded day series (one row per day) so the
    # orders scan+aggregate runs ONCE — the count below, both self-join
    # sides, and the broadcast build all re-derived it before (4 full
    # scans for a 2,400-row table).
    pts = daily.select(
        F.datediff("day", F.lit("1992-01-01").cast("date")).alias("d"), "y"
    ).localCheckpoint(eager=True)
    # Calendar bound on the checkpointed pair set: n_days^2/2 pairs.
    # TPC-H's 2,400 days -> ~2.9M rows (fine even at 100x data volume —
    # the day count doesn't grow with rows); a 30-year corpus (~11k days)
    # is ~60M, still executor-sized but past the point where the full
    # pair materialization is the right plan. Guard it: beyond ~20k days
    # fail fast and point at the repeated-median/day-sampling refactor
    # instead of silently checkpointing ~200M+ rows.
    n_days_ = pts.count()
    if n_days_ > 20_000:
        raise ValueError(
            f"theil_sen_slope: {n_days_} days -> "
            f"~{n_days_ * (n_days_ - 1) // 2:,} slope pairs; "
            "past the materialization bound (~20k days). Aggregate to a "
            "coarser grain or sample days before the pairwise step."
        )
    a = pts.select(F.col("d").alias("d1"), F.col("y").alias("y1"))
    b = pts.select(F.col("d").alias("d2"), F.col("y").alias("y2"))
    # count/min/max ride the checkpoint job as an Observation (the
    # pagerank convention) — one job materializes the pair set AND
    # returns the stats the histogram needs, instead of a separate
    # aggregate pass over the checkpointed pairs.
    obs = Observation()
    pairs = (
        a.join(F.broadcast(b), F.col("d2") > F.col("d1"))
        .select(
            (
                (F.col("y2") - F.col("y1")).cast("double")
                / (F.col("d2") - F.col("d1"))
            ).alias("slope"),
        )
        .observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.min("slope").alias("lo"),
            F.max("slope").alias("hi"),
        )
        .localCheckpoint(eager=True)  # reused by histogram + in-bucket select
    )
    got = obs.get
    n_pairs_, lo, hi = got["n"], got["lo"], got["hi"]
    if n_pairs_ == 0:
        return spark.createDataFrame(
            [], "n_days bigint, n_pairs bigint, median_slope double"
        )
    k = (n_pairs_ + 1) // 2
    if hi == lo:
        median = lo
    else:
        n_b = 1024
        width = (hi - lo) / n_b
        bucket = F.least(
            F.floor((F.col("slope") - F.lit(lo)) / F.lit(width)).cast("int"),
            F.lit(n_b - 1),
        )
        hist = dict(
            pairs.groupBy(bucket.alias("b"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        cum = 0
        for b_star in range(n_b):
            c = hist.get(b_star, 0)
            if cum + c >= k:
                break
            cum += c
        median = (
            pairs.filter(bucket == b_star)
            .orderBy("slope")
            .limit(k - cum)
            .agg(F.max("slope"))
            .collect()[0][0]
        )
    # Final display round runs through Spark's ROUND (exact-decimal
    # HALF_UP), matching the oracle's SQL ROUND convention — Python's
    # round() is half-even and dyadic slopes (power-of-2 day gaps) CAN
    # sit exactly on .5e-6 boundaries (ROUND_NOTES landmine 12).
    return spark.createDataFrame(
        [(n_days_, n_pairs_, float(median))],
        "n_days bigint, n_pairs bigint, median_slope double",
    ).select(
        "n_days", "n_pairs", F.round("median_slope", 6).alias("median_slope")
    )


# --- Bollinger bands ----------------------------------------------------------


@register(
    "bollinger_bands",
    f"""
WITH daily AS (
  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
         CAST(SUM({_SQL_CENTS}) AS BIGINT) AS sc
  FROM orders GROUP BY 1, 2),
w AS (
  SELECT o_orderpriority, day, sc,
         COUNT(*) OVER win AS n_days,
         CAST(SUM(sc) OVER win AS BIGINT) AS s,
         CAST(SUM(CAST(sc AS DECIMAL(38,0)) * sc) OVER win AS DECIMAL(38,0))
           AS ss
  FROM daily
  WINDOW win AS (PARTITION BY o_orderpriority ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
SELECT o_orderpriority, day, sc, n_days,
       CAST(FLOOR((CAST(s AS DOUBLE) / n_days) * 1048576.0) AS BIGINT)
         AS mean_units,
       CAST(FLOOR(SQRT(CAST(n_days * ss - CAST(s AS DECIMAL(38,0)) * s AS DOUBLE)
                       / (n_days * n_days)) * 1048576.0) AS BIGINT)
         AS std_units,
       CAST(FLOOR((CAST(s AS DOUBLE) / n_days
                   + 2.0 * SQRT(CAST(n_days * ss - CAST(s AS DECIMAL(38,0)) * s AS DOUBLE)
                                / (n_days * n_days))) * 1048576.0) AS BIGINT)
         AS upper_units,
       CAST(FLOOR((CAST(s AS DOUBLE) / n_days
                   - 2.0 * SQRT(CAST(n_days * ss - CAST(s AS DECIMAL(38,0)) * s AS DOUBLE)
                                / (n_days * n_days))) * 1048576.0) AS BIGINT)
         AS lower_units
FROM w
""",
)
def q_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (trailing-7-row mean +/- 2 population stddev) over
    daily revenue per order priority — the volatility envelope of
    technical analysis, and the same rolling mean/variance decomposition
    any monitoring pipeline uses for adaptive thresholds.

    The rolling sum is an exact bigint window sum over cents; the
    sum-of-squares and s^2 are widened to DECIMAL(38,0) BEFORE
    multiplying (a daily total of ~8e8 cents squares past int64 once
    summed over 7 days — sf0.1 actually overflowed the first bigint
    cut), so mean, variance ((n*ss - s^2) / n^2) and the
    correctly-rounded IEEE sqrt are computed from identical exact
    integers in both engines.
    The derived columns are emitted as FLOOR(x * 2^20) fixed-point units
    rather than ROUND(x, 6): the doubles themselves are bit-identical,
    but DuckDB's ROUND scales by 1e6 internally (inexact) while Spark
    rounds the exact decimal expansion, and mean + 2*std lands on enough
    near-half boundaries to diverge — multiplying by a power of two is
    exact in IEEE, so FLOOR cannot disagree (the embedding_quantize
    trick). Windows are partitioned per priority; at larger daily
    magnitudes the sum-of-squares guard is a DECIMAL(38) widening."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        "o_orderpriority", F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        ).alias("sc")
    )
    win = (
        Window.partitionBy("o_orderpriority").orderBy("day").rowsBetween(-6, 0)
    )
    w = daily.select(
        "o_orderpriority",
        "day",
        "sc",
        F.count(F.lit(1)).over(win).alias("n_days"),
        F.sum("sc").over(win).alias("s"),
        F.sum(F.col("sc").cast("decimal(38,0)") * F.col("sc"))
        .over(win)
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n_days")
    std = F.sqrt(
        (
            F.col("n_days") * F.col("ss")
            - F.col("s").cast("decimal(38,0)") * F.col("s")
        ).cast("double")
        / (F.col("n_days") * F.col("n_days"))
    )
    units = lambda x: F.floor(x * F.lit(1048576.0)).cast("bigint")  # noqa: E731
    return w.select(
        "o_orderpriority",
        "day",
        "sc",
        "n_days",
        units(mean).alias("mean_units"),
        units(std).alias("std_units"),
        units(mean + F.lit(2.0) * std).alias("upper_units"),
        units(mean - F.lit(2.0) * std).alias("lower_units"),
    )


# --- Benford first-digit audit ------------------------------------------------


_BENFORD_P = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


@register(
    "benford_first_digit",
    f"""
WITH d AS (
  SELECT substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
           AS digit
  FROM orders),
c AS (SELECT digit, COUNT(*) AS cnt FROM d GROUP BY digit),
t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
exp(digit, expected_p) AS (
  VALUES {", ".join(f"('{d}', {p!r})" for d, p in _BENFORD_P.items())})
SELECT e.digit, COALESCE(c.cnt, 0) AS cnt, e.expected_p,
       ROUND(CAST(COALESCE(c.cnt, 0) AS DOUBLE) / t.total - e.expected_p, 6)
         AS deviation
FROM exp e LEFT JOIN c USING (digit) CROSS JOIN t
""",
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fraud/synthetic-data screen. The first digit comes from the STRING
    form of the floored integer amount (log10-free: libm log10 may differ
    in the last ulp across engines, string conversion of a bigint cannot).
    Expected proportions are baked in as full-precision double literals
    shared by both engines, so the deviation is count/total (one exact
    division) minus an identical constant. One shuffle on a 9-row key."""
    o = load(spark, sf_dir, "orders")
    c = (
        o.select(
            F.substring(
                F.floor(F.col("o_totalprice")).cast("bigint").cast("string"),
                1,
                2 - 1,
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    t = c.agg(F.sum("cnt").alias("total"))
    exp = spark.createDataFrame(
        [(str(d), p) for d, p in _BENFORD_P.items()], "digit string, expected_p double"
    )
    # Hint the RIGHT side: a broadcast hint on the LEFT of a left outer
    # join asks for build-left, which is impossible — the planner warns
    # (HintErrorLogger) and ignores it (VERDICT r10 wrong #2). The 9-row
    # aggregate c is the legal (and equally tiny) build side.
    return (
        exp.join(F.broadcast(c), "digit", "left")
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
            "expected_p",
            F.round(
                F.coalesce(F.col("cnt"), F.lit(0)).cast("double") / F.col("total")
                - F.col("expected_p"),
                6,
            ).alias("deviation"),
        )
    )


# --- community modularity -----------------------------------------------------


def _modularity_oracle() -> str:
    from taxi_data_datapipeline_spark.queries_advanced import (
        _EDGE_SUPPORT_CTE,
        _label_prop_oracle,
    )

    # Reuse the unrolled label-propagation CTE chain, then score it.
    lp = _label_prop_oracle()
    body = lp.split("WITH", 1)[1].rsplit("SELECT node, label AS community", 1)[0]
    return f"""
WITH {body.strip()},
com AS (SELECT node, label AS community FROM l5),
m AS (SELECT COUNT(*) AS m FROM e),
deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
dc AS (
  SELECT c.community, COUNT(*) AS n_nodes,
         CAST(SUM(d.d) AS BIGINT) AS deg_sum
  FROM com c JOIN deg d ON c.node = d.u GROUP BY 1),
ec AS (
  SELECT ca.community, COUNT(*) AS intra
  FROM e
  JOIN com ca ON e.a = ca.node
  JOIN com cb ON e.b = cb.node AND ca.community = cb.community
  GROUP BY 1)
SELECT dc.community, dc.n_nodes, dc.deg_sum,
       COALESCE(ec.intra, 0) AS intra_edges,
       ROUND(CAST(4 * m.m * COALESCE(ec.intra, 0)
                  - dc.deg_sum * dc.deg_sum AS DOUBLE)
             / (4.0 * m.m * m.m), 6) + 0.0 AS contribution
FROM dc LEFT JOIN ec USING (community) CROSS JOIN m
"""


@register("modularity_communities", _modularity_oracle())
def q_modularity_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity decomposition of the label-propagation
    communities on the support-pruned co-purchase graph: per community,
    its node count, degree mass, intra-community edge count, and its
    modularity contribution (4m*e_c - D_c^2) / (4m^2) — the quality
    score any community-detection run reports next to its labels.

    The algebra stays integer until one double division: Q_c =
    e_c/m - (D_c/2m)^2 is rewritten over the common denominator 4m^2.
    Edges and labels reuse the memoized pair-count table and the same
    fixed-round label propagation as the label_propagation query, so the
    two can never disagree; the oracle splices the modularity scoring on
    top of the SAME unrolled CTE chain. D_c^2 needs a DECIMAL widening
    once degree mass passes ~3e9 — noted, not hit, at any TPC-H scale."""
    from taxi_data_datapipeline_spark.operators.graphs import min_label_rounds
    from taxi_data_datapipeline_spark.queries_advanced import (
        _copurchase_edges_support,
    )

    e = _copurchase_edges_support(spark, sf_dir)
    labels = min_label_rounds(e).select(
        "node", F.col("label").alias("community")
    )
    m = e.agg(F.count(F.lit(1)).alias("m"))
    deg = (
        e.select(F.col("a").alias("u"))
        .unionAll(e.select(F.col("b").alias("u")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    dc = (
        labels.join(deg.hint("shuffle_hash"), labels.node == deg.u)
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("d").alias("deg_sum"),
        )
    )
    ca = labels.select(F.col("node").alias("a"), F.col("community").alias("c_a"))
    cb = labels.select(F.col("node").alias("b"), F.col("community").alias("c_b"))
    ec = (
        e.join(F.broadcast(ca), "a")
        .join(F.broadcast(cb), "b")
        .filter(F.col("c_a") == F.col("c_b"))
        .groupBy(F.col("c_a").alias("community"))
        .agg(F.count(F.lit(1)).alias("intra"))
    )
    intra = F.coalesce(F.col("intra"), F.lit(0))
    return (
        dc.join(ec.hint("shuffle_hash"), "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            "deg_sum",
            intra.alias("intra_edges"),
            # + 0.0 collapses IEEE negative zero (a tiny negative
            # contribution ROUNDs to -0.0 in one engine, 0.0 in the other)
            (
                F.round(
                    (
                        F.lit(4) * F.col("m") * intra
                        - F.col("deg_sum") * F.col("deg_sum")
                    ).cast("double")
                    / (F.lit(4.0) * F.col("m") * F.col("m")),
                    6,
                )
                + F.lit(0.0)
            ).alias("contribution"),
        )
    )


# --- geospatial: geohash rollup and cell-bucketed nearest neighbor ------------


def _geohash_rollup_oracle() -> str:
    from taxi_data_datapipeline_spark.functions.geo import geohash_sql_parts

    x, y, inter, concat = geohash_sql_parts(
        "value * 0.01 + 40.0", "value * -0.02 - 73.0", precision=5
    )
    return f"""
WITH g1 AS (SELECT user_id, value, {x} AS gx, {y} AS gy FROM events),
g2 AS (SELECT user_id, value, ({inter}) AS gi FROM g1),
g3 AS (SELECT user_id, value, {concat} AS cell FROM g2),
s1 AS (SELECT cell, user_id, COUNT(*) AS c FROM g3 GROUP BY cell, user_id)
SELECT cell, CAST(SUM(c) AS BIGINT) AS n_events, COUNT(*) AS n_users
FROM s1 GROUP BY cell
"""


@register("geohash_rollup", _geohash_rollup_oracle())
def q_geohash_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-geohash5 cell event and distinct-user counts over the
    synthesized lat/lon stream (same value->coordinate mapping as the
    reference place key, queries_reference.py:latlon_place_key).

    The geohash encoder (functions/geo.py) is unrolled shift/mask
    arithmetic — fully inside whole-stage codegen, verified bit-identical
    to the DuckDB construction on published test vectors. The distinct
    count uses the two-phase (cell, user) pre-dedup so no reducer owns a
    hot cell's whole user set — the skew shape matches city-center
    hotspots in real taxi data. Geohash prefixes make this ONE rollup
    servable at every coarser zoom by prefix aggregation."""
    from taxi_data_datapipeline_spark.functions.geo import geohash_col

    ev = load(spark, sf_dir, "events")
    lat = F.col("value") * 0.01 + 40.0
    lon = F.col("value") * -0.02 - 73.0
    cells = ev.select(
        geohash_col(lat, lon, precision=5).alias("cell"), "user_id"
    )
    s1 = cells.groupBy("cell", "user_id").agg(F.count(F.lit(1)).alias("c"))
    return s1.groupBy("cell").agg(
        F.sum("c").alias("n_events"), F.count(F.lit(1)).alias("n_users")
    )


_GEO_CELL_DEG = 0.01


@register(
    "geo_radius_nn",
    f"""
WITH pts AS (
  SELECT value, COUNT(*) AS n,
         value * 0.01 + 40.0 AS lat, value * -0.02 - 73.0 AS lon
  FROM events GROUP BY value),
cells AS (
  SELECT *,
         CAST(FLOOR(lat / {_GEO_CELL_DEG}) AS BIGINT) AS cy,
         CAST(FLOOR(lon / {_GEO_CELL_DEG}) AS BIGINT) AS cx
  FROM pts),
offs AS (SELECT dx, dy FROM (VALUES (-1), (0), (1)) a(dx),
                            (VALUES (-1), (0), (1)) b(dy)),
cand AS (
  SELECT p.value, p.n, q.value AS nn_value,
         CAST(FLOOR(((p.lat - q.lat) * (p.lat - q.lat)
                     + (p.lon - q.lon) * (p.lon - q.lon))
                    * 1099511627776.0) AS BIGINT) AS d2_units
  FROM cells p
  JOIN offs o ON true
  JOIN cells q ON q.cx = p.cx + o.dx AND q.cy = p.cy + o.dy
              AND q.value != p.value),
best AS (
  SELECT value, n, nn_value, d2_units,
         ROW_NUMBER() OVER (PARTITION BY value
                            ORDER BY d2_units, nn_value) AS rk
  FROM cand)
SELECT p.value, p.n, b.nn_value, b.d2_units
FROM pts p LEFT JOIN (SELECT * FROM best WHERE rk = 1) b USING (value)
""",
)
def q_geo_radius_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest neighboring LOCATION within one grid cell's radius
    (0.01 deg), for every distinct point of the synthesized coordinate
    stream — the cell-bucketed spatial self-join every geo pipeline uses
    instead of a quadratic all-pairs pass. Points with no neighbor in
    the 3x3 neighborhood report NULL (radius semantics, documented).

    Scale shape: dedup to distinct locations first (point count bounded
    by the coordinate grid, not the event count), then each point joins
    only its 9 cells — candidate volume is O(points x occupancy), and a
    hot cell sharded by AQE. Distances compare as FLOOR(d^2 * 2^40)
    fixed-point units of identical IEEE doubles, so the argmin and the
    tie-break (smaller neighbor value) are engine-exact."""
    ev = load(spark, sf_dir, "events")
    pts = (
        ev.groupBy("value")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "value",
            "n",
            (F.col("value") * 0.01 + 40.0).alias("lat"),
            (F.col("value") * -0.02 - 73.0).alias("lon"),
        )
    )
    cells = pts.select(
        "*",
        F.floor(F.col("lat") / _GEO_CELL_DEG).alias("cy"),
        F.floor(F.col("lon") / _GEO_CELL_DEG).alias("cx"),
    )
    offs = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx long, dy long"
    )
    p = cells.select(
        F.col("value"),
        "n",
        F.col("lat").alias("plat"),
        F.col("lon").alias("plon"),
        "cx",
        "cy",
    ).crossJoin(F.broadcast(offs))
    q = cells.select(
        F.col("value").alias("nn_value"),
        F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"),
        F.col("cx").alias("qcx"),
        F.col("cy").alias("qcy"),
    )
    d2 = (F.col("plat") - F.col("qlat")) * (F.col("plat") - F.col("qlat")) + (
        F.col("plon") - F.col("qlon")
    ) * (F.col("plon") - F.col("qlon"))
    cand = p.join(
        q,
        (F.col("qcx") == F.col("cx") + F.col("dx"))
        & (F.col("qcy") == F.col("cy") + F.col("dy"))
        & (F.col("nn_value") != F.col("value")),
    ).select(
        "value",
        "n",
        "nn_value",
        F.floor(d2 * F.lit(1099511627776.0)).cast("bigint").alias("d2_units"),
    )
    wk = Window.partitionBy("value").orderBy("d2_units", "nn_value")
    best = (
        cand.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") == 1)
        .select("value", "nn_value", "d2_units")
    )
    return pts.select("value", "n").join(best, "value", "left")


# --- Gini concentration -------------------------------------------------------


@register(
    "gini_revenue",
    f"""
WITH rev AS (
  SELECT o_custkey, CAST(SUM({_SQL_CENTS}) AS BIGINT) AS y
  FROM orders GROUP BY 1),
grp AS (SELECT y, COUNT(*) AS c FROM rev GROUP BY y),
cum AS (
  SELECT y, c, CAST(SUM(c) OVER (ORDER BY y) AS BIGINT) AS f FROM grp),
st AS (SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(y * c) AS BIGINT) AS s
       FROM grp),
t2 AS (SELECT CAST(SUM(y * c * (2 * f - c + 1)) AS BIGINT) AS t2 FROM cum)
SELECT st.n AS n_customers, st.s AS total_cents,
       ROUND(CAST(t2.t2 AS DOUBLE) / CAST(st.n * st.s AS DOUBLE)
             - CAST(st.n + 1 AS DOUBLE) / st.n, 6) AS gini
FROM st CROSS JOIN t2
""",
)
def q_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the concentration
    metric behind "top x% of customers drive y% of revenue" analyses.

    Uses the grouped form of G = (2*sum(i*x_i))/(n*S) - (n+1)/n: for each
    DISTINCT revenue value its members' rank-sum is c*(2f - c + 1)/2, so
    the whole statistic needs only the inclusive cumulative count f over
    distinct values — produced by the same bucketed two-phase cumulation
    as ks_two_sample (no global window; the high-cardinality shuffle key
    is the revenue value itself). Everything is exact bigint until two
    final double divisions performed identically by both engines."""
    o = load(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        ).alias("y")
    )
    grp = rev.groupBy("y").agg(F.count(F.lit(1)).alias("c"))
    cum = (
        _cumulative_counts(
            grp.select(F.col("y").alias("value"), F.col("c").alias("c1"),
                       F.lit(0).alias("c2"))
        )
        .select(F.col("value").alias("y"), F.col("c1").alias("c"),
                F.col("f1").alias("f"))
    )
    st = grp.agg(
        F.sum("c").alias("n"), F.sum(F.col("y") * F.col("c")).alias("s")
    )
    t2 = cum.agg(
        F.sum(
            F.col("y") * F.col("c") * (F.lit(2) * F.col("f") - F.col("c") + 1)
        ).alias("t2")
    )
    return t2.crossJoin(F.broadcast(st)).select(
        F.col("n").alias("n_customers"),
        F.col("s").alias("total_cents"),
        F.round(
            F.col("t2").cast("double") / (F.col("n") * F.col("s")).cast("double")
            - (F.col("n") + 1).cast("double") / F.col("n"),
            6,
        ).alias("gini"),
    )


# --- Spearman rank correlation ------------------------------------------------


@register(
    "spearman_price_qty",
    f"""
WITH it AS (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
         CAST(l_quantity AS BIGINT) AS y
  FROM lineitem),
gx AS (SELECT x, COUNT(*) AS c FROM it GROUP BY x),
cx AS (SELECT x, 2 * CAST(SUM(c) OVER (ORDER BY x) AS BIGINT) - c + 1 AS rx2
       FROM gx),
gy AS (SELECT y, COUNT(*) AS c FROM it GROUP BY y),
cy AS (SELECT y, 2 * CAST(SUM(c) OVER (ORDER BY y) AS BIGINT) - c + 1 AS ry2
       FROM gy),
rk AS (
  SELECT CAST(cx.rx2 AS DECIMAL(38,0)) AS rx,
         CAST(cy.ry2 AS DECIMAL(38,0)) AS ry
  FROM it JOIN cx USING (x) JOIN cy USING (y)),
s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(rx) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(ry) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(rx * rx) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(ry * ry) AS DECIMAL(38,0)) AS syy,
         CAST(SUM(rx * ry) AS DECIMAL(38,0)) AS sxy
  FROM rk)
SELECT n,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS spearman
FROM s
""",
)
def q_spearman_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between line price and quantity —
    Pearson over tie-averaged ranks, the monotonic-association screen
    that survives outliers and nonlinearity.

    Exactness end-to-end: a value's tie-averaged rank doubles to the
    INTEGER 2f - c + 1 (f = inclusive cumulative count, c = tie size),
    computed per DISTINCT value with the bucketed two-phase cumulation
    and joined back — the rank map is vocabulary-sized, the only
    data-sized shuffles are the two value rollups and the rank joins.
    All Pearson sums run in DECIMAL(38,0) (n * sum(rank^2) passes int64
    around sf1) and the coefficient is one double division over exact
    integers. Constant inputs yield NULL (0/0), identically in both
    engines."""
    li = load(spark, sf_dir, "lineitem")
    it = li.select(
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("x"),
        F.col("l_quantity").cast("bigint").alias("y"),
    )

    def rank2_map(col: str) -> DataFrame:
        grp = it.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        cum = _cumulative_counts(
            grp.select(
                F.col(col).alias("value"),
                F.col("c").alias("c1"),
                F.lit(0).alias("c2"),
            )
        )
        return cum.select(
            F.col("value").alias(col),
            (F.lit(2) * F.col("f1") - F.col("c1") + 1).alias(f"r{col}2"),
        )

    rk = (
        it.join(rank2_map("x"), "x")
        .join(rank2_map("y"), "y")
        .select(
            F.col("rx2").cast("decimal(38,0)").alias("rx"),
            F.col("ry2").cast("decimal(38,0)").alias("ry"),
        )
    )
    s = rk.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").cast("decimal(38,0)").alias("sx"),
        F.sum("ry").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("decimal(38,0)").alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).cast("decimal(38,0)").alias("sxy"),
    )
    return s.select(
        "n",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                    "double"
                )
            ),
            6,
        ).alias("spearman"),
    )


# --- rolling exact median -----------------------------------------------------


@register(
    "rolling_median_revenue",
    f"""
WITH daily AS (
  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
         CAST(SUM({_SQL_CENTS}) AS BIGINT) AS sc
  FROM orders GROUP BY 1, 2),
l AS (
  SELECT o_orderpriority, day, sc,
         ROW_NUMBER() OVER w AS rn,
         LAG(sc, 1) OVER w AS p1, LAG(sc, 2) OVER w AS p2,
         LAG(sc, 3) OVER w AS p3, LAG(sc, 4) OVER w AS p4,
         LAG(sc, 5) OVER w AS p5, LAG(sc, 6) OVER w AS p6
  FROM daily
  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day))
SELECT o_orderpriority, day, sc,
       list_sort([sc, p1, p2, p3, p4, p5, p6])[4] AS med7
FROM l WHERE rn >= 7
""",
)
def q_rolling_median_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day EXACT median of daily revenue per priority — the
    robust rolling center that percentile_approx can't guarantee and a
    global sort would overpay for. The 7-element window materializes as
    an array (6 lags + current), sorts in-expression, and picks the
    middle — integer cents end-to-end, zero floating point, one
    partitioned window. Rows before a full 7-day history are excluded
    (rn >= 7) so the median is always of exactly 7 values; constant
    memory per row, any number of groups."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        "o_orderpriority", F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        ).alias("sc")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("day")
    lags = [F.lag("sc", k).over(w) for k in range(1, 7)]
    arr = F.array_sort(F.array(F.col("sc"), *lags))
    return (
        daily.select(
            "o_orderpriority",
            "day",
            "sc",
            F.row_number().over(w).alias("rn"),
            F.element_at(arr, 4).alias("med7"),
        )
        .filter(F.col("rn") >= 7)
        .drop("rn")
    )


# --- deterministic shard assignment -------------------------------------------


_N_SHARDS = 16


@register(
    "shard_assignment",
    f"""
WITH h AS (SELECT doc_id, md5(text) AS hh FROM documents),
s AS (
  SELECT doc_id, hh,
         strpos('0123456789abcdef', substr(hh, 1, 1)) - 1 AS shard
  FROM h)
SELECT doc_id, shard,
       ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hh, doc_id) AS pos
FROM s
""",
)
def q_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-data sharding: every
    document gets a shard (first md5 nibble -> {_N_SHARDS} shards) and a
    position inside it (md5 order, doc_id tiebreak). Content-hash
    ordering is the standard reproducible corpus shuffle — independent
    of input file layout, stable across reruns and engines (md5 is
    bit-identical everywhere, unlike engine-native hash functions).
    One shuffle on the shard key; each shard sorts independently
    (partitioned window), which is exactly how shards write in
    parallel at scale."""
    docs = load(spark, sf_dir, "documents", fan_out=True)
    h = docs.select("doc_id", F.md5(F.col("text")).alias("hh"))
    s = h.select(
        "doc_id",
        "hh",
        (
            F.instr(F.lit("0123456789abcdef"), F.substring("hh", 1, 1)) - 1
        ).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("hh", "doc_id")
    return s.select(
        "doc_id", "shard", F.row_number().over(w).alias("pos")
    )


# --- two-factor OLS -----------------------------------------------------------


@register(
    "ols_two_factor",
    """
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity * 100 AS DECIMAL(38,0))) AS DOUBLE) / 100 AS s1,
         CAST(SUM(CAST(l_discount * 100 AS DECIMAL(38,0))) AS DOUBLE) / 100 AS s2,
         CAST(SUM(CAST(l_extendedprice * 100 AS DECIMAL(38,0))) AS DOUBLE) / 100 AS sy,
         CAST(SUM(CAST(l_quantity * l_quantity * 10000 AS DECIMAL(38,0))) AS DOUBLE)
           / 10000 AS s11,
         CAST(SUM(CAST(l_discount * l_discount * 10000 AS DECIMAL(38,0))) AS DOUBLE)
           / 10000 AS s22,
         CAST(SUM(CAST(l_quantity * l_discount * 10000 AS DECIMAL(38,0))) AS DOUBLE)
           / 10000 AS s12,
         CAST(SUM(CAST(l_quantity * l_extendedprice * 10000 AS DECIMAL(38,0))) AS DOUBLE)
           / 10000 AS s1y,
         CAST(SUM(CAST(l_discount * l_extendedprice * 10000 AS DECIMAL(38,0))) AS DOUBLE)
           / 10000 AS s2y,
         CAST(SUM(CAST(l_extendedprice * l_extendedprice * 10000 AS DECIMAL(38,0))) AS DOUBLE)
           / 10000 AS syy
  FROM lineitem GROUP BY l_returnflag),
c AS (
  SELECT l_returnflag, n,
         n * s11 - s1 * s1 AS c11,
         n * s22 - s2 * s2 AS c22,
         n * s12 - s1 * s2 AS c12,
         n * s1y - s1 * sy AS c1y,
         n * s2y - s2 * sy AS c2y,
         n * syy - sy * sy AS cyy,
         s1, s2, sy
  FROM s)
SELECT l_returnflag, n,
       ROUND((c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12), 6) AS beta_qty,
       ROUND((c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12), 6) AS beta_disc,
       ROUND((sy - (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) * s1
                 - (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) * s2)
             / n, 6) AS intercept,
       ROUND(((c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) * c1y
              + (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) * c2y)
             / cyy, 6) AS r2
FROM c
""",
)
def q_ols_two_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-regressor OLS (extendedprice ~ quantity + discount) per return
    flag, solved in closed form from exact sufficient statistics — the
    multi-factor extension of regr_fit. The ten moment sums accumulate as
    scale-0 DECIMALs (inputs have <= 2 decimals, so scaled products are
    integers), making the reduction order-independent; the 2x2 normal
    equations solve by Cramer's rule in doubles computed identically by
    both engines, and R^2 = (b1*S1y + b2*S2y)/Syy over the centered sums.
    One aggregation with map-side partials, three output rows, no second
    pass at any scale."""
    li = load(spark, sf_dir, "lineitem", fan_out=True)
    x1, x2, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")

    def mom(expr, scale: int):
        return F.sum((expr * scale).cast("decimal(38,0)")).cast(
            "double"
        ) / F.lit(float(scale))

    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        mom(x1, 100).alias("s1"),
        mom(x2, 100).alias("s2"),
        mom(y, 100).alias("sy"),
        mom(x1 * x1, 10000).alias("s11"),
        mom(x2 * x2, 10000).alias("s22"),
        mom(x1 * x2, 10000).alias("s12"),
        mom(x1 * y, 10000).alias("s1y"),
        mom(x2 * y, 10000).alias("s2y"),
        mom(y * y, 10000).alias("syy"),
    )
    n = F.col("n")
    c11 = n * F.col("s11") - F.col("s1") * F.col("s1")
    c22 = n * F.col("s22") - F.col("s2") * F.col("s2")
    c12 = n * F.col("s12") - F.col("s1") * F.col("s2")
    c1y = n * F.col("s1y") - F.col("s1") * F.col("sy")
    c2y = n * F.col("s2y") - F.col("s2") * F.col("sy")
    cyy = n * F.col("syy") - F.col("sy") * F.col("sy")
    det = c11 * c22 - c12 * c12
    b1 = (c22 * c1y - c12 * c2y) / det
    b2 = (c11 * c2y - c12 * c1y) / det
    return s.select(
        "l_returnflag",
        "n",
        F.round(b1, 6).alias("beta_qty"),
        F.round(b2, 6).alias("beta_disc"),
        F.round(
            (F.col("sy") - b1 * F.col("s1") - b2 * F.col("s2")) / n, 6
        ).alias("intercept"),
        F.round((b1 * c1y + b2 * c2y) / cyy, 6).alias("r2"),
    )


# --- survival: discrete hazard curve ------------------------------------------


@register(
    "hazard_curve",
    """
WITH ld AS (
  SELECT user_id, MAX(CAST(ts AS DATE)) AS last_day FROM events GROUP BY 1),
fin AS (SELECT MAX(last_day) AS end_day, COUNT(*) AS n_users FROM ld),
grp AS (SELECT last_day, COUNT(*) AS c FROM ld GROUP BY 1),
cum AS (
  SELECT last_day, c, CAST(SUM(c) OVER (ORDER BY last_day) AS BIGINT) AS f
  FROM grp)
SELECT cum.last_day AS day, cum.c AS churned,
       fin.n_users - (cum.f - cum.c) AS at_risk,
       ROUND(CAST(cum.c AS DOUBLE) / (fin.n_users - (cum.f - cum.c)), 6)
         AS hazard
FROM cum CROSS JOIN fin
WHERE cum.last_day < fin.end_day
""",
)
def q_hazard_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time churn hazard: for each day, the fraction of
    still-active users whose LAST-ever event lands on it (the
    Kaplan-Meier hazard component; users last seen on the final observed
    day are censored, not churned). At-risk counts need the cumulative
    churn total over the day axis — supplied by the bucketed two-phase
    cumulation over the aggregate-sized per-day churn table, so the only
    data-sized shuffle is the per-user MAX. Hazard is one exact-integer
    division. The survival CURVE (product of 1 - hazard) is deliberately
    left to the consumer: a cumulative float product is the one step
    that cannot be made engine-exact."""
    ev = load(spark, sf_dir, "events")
    ld = ev.groupBy("user_id").agg(F.max(F.col("ts").cast("date")).alias("last_day"))
    fin = ld.agg(
        F.max("last_day").alias("end_day"), F.count(F.lit(1)).alias("n_users")
    )
    grp = ld.groupBy("last_day").agg(F.count(F.lit(1)).alias("c"))
    epoch = F.lit("1970-01-01").cast("date")
    # The bucketed cumulation needs a numeric axis: cumulate over the
    # epoch-day index and convert back to DATE for the output row.
    cum = _cumulative_counts(
        grp.select(
            F.datediff("last_day", epoch).alias("value"),
            F.col("c").alias("c1"),
            F.lit(0).alias("c2"),
        )
    )
    at_risk = F.col("n_users") - (F.col("f1") - F.col("c1"))
    return (
        cum.crossJoin(F.broadcast(fin))
        .filter(F.col("value") < F.datediff("end_day", epoch))
        .select(
            F.date_add(epoch, F.col("value").cast("int")).alias("day"),
            F.col("c1").alias("churned"),
            at_risk.alias("at_risk"),
            F.round(F.col("c1").cast("double") / at_risk, 6).alias("hazard"),
        )
    )


# --- two-proportion A/B test --------------------------------------------------


@register(
    "ab_test_proportions",
    """
WITH u AS (
  SELECT user_id,
         (strpos('0123456789abcdef',
                 substr(md5(CAST(user_id AS VARCHAR)), 32, 1)) - 1) % 2
           AS grp,
         CASE WHEN COUNT(*) FILTER (WHERE event_type = 'purchase') >= 14
              THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id),
g AS (
  SELECT grp, COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS c
  FROM u GROUP BY grp),
w AS (
  SELECT MAX(CASE WHEN grp = 0 THEN n END) AS n1,
         MAX(CASE WHEN grp = 0 THEN c END) AS c1,
         MAX(CASE WHEN grp = 1 THEN n END) AS n2,
         MAX(CASE WHEN grp = 1 THEN c END) AS c2
  FROM g)
SELECT n1, c1, n2, c2,
       ROUND(CAST(c1 AS DOUBLE) / n1, 6) AS p1,
       ROUND(CAST(c2 AS DOUBLE) / n2, 6) AS p2,
       ROUND((CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2)
             / SQRT((CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                    * (1.0 - CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                    * (1.0 / n1 + 1.0 / n2)), 6) AS z_score
FROM w
""",
)
def q_ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between md5-split user cohorts on
    heavy-purchaser conversion (>= 14 purchases; the synthetic stream
    gives EVERY user at least one of each event type, so an any-purchase
    definition saturates at p = 1 and zeroes the pooled variance) — the
    experiment-analysis primitive, with the cohort
    split itself content-hashed (last md5 nibble parity) so assignment
    is reproducible across engines and reruns, never tied to row order.
    Per-user conversion collapses in the same shuffle as the cohort
    split; the z-score is pure arithmetic on four integers, performed
    identically by both engines. One data-sized shuffle total."""
    ev = load(spark, sf_dir, "events")
    grp_col = (
        (
            F.instr(
                F.lit("0123456789abcdef"),
                F.substring(F.md5(F.col("user_id").cast("string")), 32, 1),
            )
            - 1
        )
        % 2
    )
    u = (
        ev.groupBy("user_id")
        .agg(
            F.when(
                F.sum(
                    F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                )
                >= 14,
                1,
            )
            .otherwise(0)
            .alias("conv")
        )
        .select(grp_col.alias("grp"), "conv")
    )
    g = u.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("c")
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 0, F.col("c"))).alias("c1"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("grp") == 1, F.col("c"))).alias("c2"),
    )
    p1 = F.col("c1").cast("double") / F.col("n1")
    p2 = F.col("c2").cast("double") / F.col("n2")
    pp = (F.col("c1") + F.col("c2")).cast("double") / (F.col("n1") + F.col("n2"))
    return w.select(
        "n1",
        "c1",
        "n2",
        "c2",
        F.round(p1, 6).alias("p1"),
        F.round(p2, 6).alias("p2"),
        F.round(
            (p1 - p2)
            / F.sqrt(
                pp
                * (F.lit(1.0) - pp)
                * (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2"))
            ),
            6,
        ).alias("z_score"),
    )


# --- BPE merge learning (iterative) -------------------------------------------


_BPE_ROUNDS = 3


def _bpe_chain_sql(rounds: int = _BPE_ROUNDS) -> str:
    """The shared learn-chain CTE text: toks -> w0 (char-split vocab) ->
    per-round (pair counts r{k}p, argmax b{k}, merged vocab w{k})."""
    steps = []
    for k in range(1, rounds + 1):
        prev = f"w{k - 1}"
        steps.append(
            f"""r{k}p AS (
  SELECT s.syms[i.i] AS x, s.syms[i.i + 1] AS y, s.wc
  FROM (SELECT list_filter(string_split(rep, '|'), t -> t != '') AS syms, wc
        FROM {prev}) s,
       LATERAL unnest(generate_series(1, len(s.syms) - 1)) AS i(i)),
b{k} AS (
  SELECT x, y, CAST(SUM(wc) AS BIGINT) AS cnt
  FROM r{k}p GROUP BY x, y
  ORDER BY cnt DESC, x, y LIMIT 1),
w{k} AS (
  SELECT list_reduce(
           list_prepend('|', list_filter(string_split({prev}.rep, '|'),
                                         t -> t != '')),
           (acc, s) -> CASE WHEN s = b{k}.y
                             AND ends_with(acc, '|' || b{k}.x || '|')
                       THEN substr(acc, 1, len(acc) - len(b{k}.x) - 1)
                              || b{k}.x || b{k}.y || '|'
                       ELSE acc || s || '|' END
         ) AS rep, wc
  FROM {prev} CROSS JOIN b{k})"""
        )
    steps_sql = ",\n".join(steps)
    return f"""toks AS (SELECT unnest({_SQL_SUBTOKS}) AS word FROM documents),
w0 AS (
  SELECT '|' || regexp_replace(word, '(.)', '\\1|', 'g') AS rep,
         COUNT(*) AS wc
  FROM toks GROUP BY word),
{steps_sql}"""


def _bpe_oracle(rounds: int = _BPE_ROUNDS) -> str:
    outs = " UNION ALL ".join(
        f"SELECT {k} AS merge_rank, x, y, cnt FROM b{k}"
        for k in range(1, rounds + 1)
    )
    return f"""
WITH {_bpe_chain_sql(rounds)}
{outs}
"""


def _bpe_encode_oracle(rounds: int = _BPE_ROUNDS, top: int = 30) -> str:
    return f"""
WITH {_bpe_chain_sql(rounds)},
enc AS (
  SELECT unnest(list_filter(string_split(rep, '|'), t -> t != '')) AS token,
         wc
  FROM w{rounds})
SELECT token, CAST(SUM(wc) AS BIGINT) AS n_occurrences
FROM enc GROUP BY token
ORDER BY n_occurrences DESC, token LIMIT {top}
"""


@register("bpe_learn_merges", _bpe_oracle())
def q_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, first 3 merges (Sennrich et al., ACL
    2016): iteratively count adjacent symbol pairs over the weighted
    vocabulary, adopt the most frequent pair (ties broken
    lexicographically), and merge every occurrence — the algorithm
    behind every modern subword tokenizer, run as a Spark plan.

    Representation: each word is a '|'-separated symbol string
    ('|a|b|c|'); tokens are letters/digits only so the separator cannot
    collide. A merge is a left-to-right greedy FOLD over the symbol
    list (aggregate/list_reduce on Spark/DuckDB): append each symbol,
    but when the accumulator's last symbol is x and the next is y,
    rewrite the tail to xy — exactly reference BPE. (A plain
    replace('|x|y|','|xy|') is NOT: consecutive occurrences share the
    boundary '|', so '|a|a|a|a|' merges once to '|aa|a|a|' instead of
    '|aa|aa|'; pinned in tests/test_bpe_merge.py.) The corpus
    collapses to its
    vocabulary before round 1, so each round is pair-explode +
    hash-agg + argmax + map-side replace over an aggregate-sized table;
    the vocab is localCheckpointed per round so the k-th round's plan
    does not re-execute rounds 1..k-1 per consumer (ROUND_NOTES
    landmine 18). The DuckDB oracle unrolls the same rounds as chained
    CTEs and must produce the identical merge table."""
    merges, _cur = _bpe_learn(spark, sf_dir)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out


def _bpe_learn(
    spark: SparkSession, sf_dir: str, rounds: int = _BPE_ROUNDS
) -> tuple[list[DataFrame], DataFrame]:
    """Shared BPE learn loop: returns ([per-round merge rows], final
    merged vocabulary (rep, wc)) — training consumes the merge table,
    encoding consumes the final vocab state."""
    docs = load(spark, sf_dir, "documents", fan_out=True)
    words = (
        docs.select(F.explode(bpe_ish_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    cur = words.select(
        F.concat(
            F.lit("|"), F.regexp_replace(F.col("word"), "(.)", "$1|")
        ).alias("rep"),
        "wc",
    ).localCheckpoint(eager=False)
    merges = []
    for k in range(1, rounds + 1):
        syms = F.filter(F.split(F.col("rep"), r"\|"), lambda t: t != "")
        pairs = (
            cur.select(syms.alias("syms"), "wc")
            .filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), i -> "
                        "struct(element_at(syms, i) AS x, "
                        "element_at(syms, i + 1) AS y))"
                    )
                ).alias("p"),
                "wc",
            )
            .select("p.x", "p.y", "wc")
        )
        best = (
            pairs.groupBy("x", "y")
            .agg(F.sum("wc").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "x", "y")
            .limit(1)
            .localCheckpoint(eager=False)
        )
        merges.append(
            best.select(
                F.lit(k).alias("merge_rank"), "x", "y", "cnt"
            )
        )
        cur = (
            cur.crossJoin(F.broadcast(best))
            .select(
                F.expr(
                    "aggregate("
                    " filter(split(rep, '\\\\|'), t -> t != ''),"
                    " '|',"
                    " (acc, s) -> CASE WHEN s = y"
                    "   AND endswith(acc, concat('|', x, '|'))"
                    "  THEN concat(substring(acc, 1,"
                    "         length(acc) - length(x) - 1), x, y, '|')"
                    "  ELSE concat(acc, s, '|') END"
                    ")"
                ).alias("rep"),
                "wc",
            )
            .localCheckpoint(eager=False)
        )
    return merges, cur


@register("bpe_encode_vocab", _bpe_encode_oracle())
def q_bpe_encode_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY — the other half of the train/apply loop: the
    corpus vocabulary after the 3 learned merges, reported as the top-30
    resulting tokens by weighted occurrence (count desc, token asc).
    Because BPE training IS iterated encoding of the vocabulary, the
    encode result is the final merged-vocab state of the same learn
    chain (`_bpe_learn`); a production encoder would apply the frozen
    merge table with the identical per-merge greedy fold
    (tests/test_bpe_merge.py pins the fold semantics). Plan: the learn
    rounds (aggregate-sized tables) then one explode + hash-agg +
    TakeOrderedAndProject — no global sort."""
    _merges, cur = _bpe_learn(spark, sf_dir)
    syms = F.filter(F.split(F.col("rep"), r"\|"), lambda t: t != "")
    return (
        cur.select(F.explode(syms).alias("token"), "wc")
        .groupBy("token")
        .agg(F.sum("wc").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "token")
        .limit(30)
    )


# --- streaming geohash rollup -------------------------------------------------


def _geohash_stream_oracle() -> str:
    from taxi_data_datapipeline_spark.functions.geo import geohash_sql_parts

    x, y, inter, concat = geohash_sql_parts(
        "value * 0.01 + 40.0", "value * -0.02 - 73.0", precision=5
    )
    return f"""
WITH g1 AS (SELECT value, {x} AS gx, {y} AS gy FROM events),
g2 AS (SELECT value, ({inter}) AS gi FROM g1),
g3 AS (SELECT value, {concat} AS cell FROM g2)
SELECT cell, COUNT(*) AS n_events FROM g3 GROUP BY cell
"""


@register("streaming_geohash_counts", _geohash_stream_oracle())
def q_streaming_geohash_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The geohash cell rollup executed through Structured Streaming:
    parquet file stream -> geohash5 encode (the SAME codegen expression
    tree as the batch geohash_rollup — functions are engine-wide, not
    tier-specific) -> complete-mode count, drained with
    Trigger.AvailableNow. Over static input the result equals the batch
    GROUP BY, which is the oracle. Spatial hot cells are the canonical
    streaming skew case; the state store keys on the cell string exactly
    as a batch shuffle would."""
    from taxi_data_datapipeline_spark.functions.geo import geohash_col
    from taxi_data_datapipeline_spark.queries_advanced import (
        _stream_events,
        _stream_session,
    )

    spark = _stream_session(spark, sf_dir)
    raw = _stream_events(spark, sf_dir)
    lat = F.col("value") * 0.01 + 40.0
    lon = F.col("value") * -0.02 - 73.0
    agg = (
        raw.select(geohash_col(lat, lon, precision=5).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return drain(agg, "complete")


# --- cohort lifetime value ----------------------------------------------------


@register(
    "cohort_ltv",
    """
WITH um AS (
  SELECT user_id, event_type,
         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS wkey,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events),
first_w AS (SELECT user_id, MIN(wkey) AS cohort FROM um GROUP BY 1),
rev AS (
  SELECT f.cohort, um.wkey - f.cohort AS age_weeks,
         CAST(SUM(CASE WHEN um.event_type = 'purchase' THEN um.cents
                       ELSE 0 END) AS BIGINT) AS rev_cents,
         COUNT(DISTINCT um.user_id) AS active_users
  FROM um JOIN first_w f USING (user_id)
  GROUP BY 1, 2)
SELECT cohort, age_weeks, active_users, rev_cents,
       CAST(SUM(rev_cents) OVER (PARTITION BY cohort ORDER BY age_weeks
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS ltv_cents
FROM rev
""",
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-seen week,
    purchase revenue accumulated over cohort age — the
    retention-economics companion to retention_cohorts. The week key is
    the INTEGER epoch-day // 7 (weeks because the synthetic stream spans
    ~a month; months_between floats were rejected anyway for cross-
    engine day-handling drift). Revenue stays integer cents; the LTV
    running sum is a per-cohort partitioned window over the
    aggregate-sized cohort x age table. Two data-sized shuffles
    (first-week rollup, cohort-age rollup with the distinct-user
    count's own pre-dedup handled by Spark's planner)."""
    ev = load(spark, sf_dir, "events")
    um = ev.select(
        "user_id",
        "event_type",
        (
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
            / 7
        ).cast("int").alias("wkey"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias(
            "cents"
        ),
    )
    first_w = um.groupBy("user_id").agg(F.min("wkey").alias("cohort"))
    rev = (
        um.join(first_w.hint("shuffle_hash"), "user_id")
        .groupBy(
            "cohort", (F.col("wkey") - F.col("cohort")).alias("age_weeks")
        )
        .agg(
            F.count_distinct("user_id").alias("active_users"),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("cents"))
                .otherwise(0)
            ).alias("rev_cents"),
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return rev.select(
        "cohort",
        "age_weeks",
        "active_users",
        "rev_cents",
        F.sum("rev_cents").over(w).alias("ltv_cents"),
    )


# --- grid DBSCAN --------------------------------------------------------------


_DBSCAN_MINPTS = 10


def _grid_dbscan_oracle(iters: int = 5) -> str:
    prev = "l0"
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f"""l{k} AS (
  SELECT s.v AS node, MIN(l.label) AS label
  FROM symx s JOIN {prev} l ON l.node = s.u
  GROUP BY s.v)"""
        )
        prev = f"l{k}"
    steps_sql = ",\n".join(steps)
    return f"""
WITH pts AS (SELECT value, COUNT(*) AS n FROM events GROUP BY value),
cells AS (
  SELECT CAST(FLOOR((value * 0.01 + 40.0) / 0.01) AS BIGINT) AS cy,
         CAST(FLOOR((value * -0.02 - 73.0) / 0.01) AS BIGINT) AS cx,
         n
  FROM pts),
cc AS (
  SELECT cx, cy, COUNT(*) AS n_locs, CAST(SUM(n) AS BIGINT) AS n_events
  FROM cells GROUP BY cx, cy),
core AS (
  SELECT cx, cy, (cx + 20000) * 100000 + (cy + 20000) AS id, n_locs, n_events
  FROM cc WHERE n_locs >= {_DBSCAN_MINPTS}),
adj AS (
  SELECT a.id AS u, b.id AS v
  FROM core a JOIN core b
    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1 AND a.id < b.id),
symx AS (
  SELECT u, v FROM adj
  UNION SELECT v, u FROM adj
  UNION SELECT id, id FROM core),
l0 AS (SELECT id AS node, id AS label FROM core),
{steps_sql}
SELECT l.label AS cluster, COUNT(*) AS n_cells,
       CAST(SUM(core.n_locs) AS BIGINT) AS n_locations,
       CAST(SUM(core.n_events) AS BIGINT) AS n_events
FROM {prev} l JOIN core ON core.id = l.node
GROUP BY l.label
"""


@register("grid_dbscan", _grid_dbscan_oracle())
def q_grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-DBSCAN spatial clustering: dense cells (>= 10 distinct
    locations) are core; 8-adjacent core cells connect; connected groups
    of core cells are the clusters — the cell-quantized DBSCAN
    approximation that replaces the quadratic epsilon-neighborhood
    query, composed ENTIRELY from existing engine operators (the
    geo_radius_nn cell grid + the fixed-round min-label propagation of
    label_propagation). Singleton core cells survive via their
    self-loop. Fixed 5 rounds keep the result a deterministic function
    of the grid so the oracle unrolls them as chained CTEs; per-round
    cost is one node-keyed join + min-aggregate over the CELL table,
    which is occupancy-bounded, not data-bounded."""
    from taxi_data_datapipeline_spark.operators.graphs import min_label_rounds

    ev = load(spark, sf_dir, "events")
    pts = ev.groupBy("value").agg(F.count(F.lit(1)).alias("n"))
    cells = pts.select(
        F.floor((F.col("value") * 0.01 + 40.0) / 0.01).alias("cy"),
        F.floor((F.col("value") * -0.02 - 73.0) / 0.01).alias("cx"),
        "n",
    )
    cc = cells.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).alias("n_locs"), F.sum("n").alias("n_events")
    )
    core = cc.filter(F.col("n_locs") >= _DBSCAN_MINPTS).withColumn(
        "id", (F.col("cx") + 20000) * 100000 + (F.col("cy") + 20000)
    )
    offs = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx long, dy long"
    )
    left = core.select("cx", "cy", F.col("id").alias("u")).crossJoin(
        F.broadcast(offs)
    )
    right = core.select(
        F.col("cx").alias("qcx"), F.col("cy").alias("qcy"), F.col("id").alias("v")
    )
    adj = left.join(
        right,
        (F.col("qcx") == F.col("cx") + F.col("dx"))
        & (F.col("qcy") == F.col("cy") + F.col("dy"))
        & (F.col("u") < F.col("v")),
    ).select(F.col("u").alias("a"), F.col("v").alias("b"))
    selfe = core.select(F.col("id").alias("a"), F.col("id").alias("b"))
    labels = min_label_rounds(adj.unionAll(selfe))
    return (
        labels.join(core.hint("shuffle_hash"), labels.node == core.id)
        .groupBy(F.col("label").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n_locs").alias("n_locations"),
            F.sum("n_events").alias("n_events"),
        )
    )


# --- one-way ANOVA ------------------------------------------------------------


@register(
    "anova_oneway",
    """
WITH v AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
  FROM events),
g AS (
  SELECT event_type, COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS ss
  FROM v GROUP BY event_type),
t AS (
  SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(s) AS BIGINT) AS s,
         CAST(SUM(ss) AS DECIMAL(38,0)) AS ss,
         CAST(SUM(CAST(FLOOR(CAST(s AS DOUBLE) * s / n * 10.0) AS BIGINT))
              AS BIGINT) AS sb_units
  FROM g)
SELECT k, n,
       ROUND((sb_units / 10.0 - CAST(s AS DOUBLE) * s / n) / (k - 1)
             / ((CAST(ss AS DOUBLE) - sb_units / 10.0) / (n - k)), 6)
         AS f_stat
FROM t
""",
)
def q_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-statistic across event types on the value column —
    the k-group generalization of the two-sample mean test. Sufficient
    statistics per group (n, sum, sum-of-squares as exact DECIMAL(38,0)
    over cents) reduce in one aggregation; the between-group term
    sum(s_g^2/n_g) is a per-group RATIONAL — its double is computed from
    exact integers identically in both engines, floor-scaled to 0.1
    units, and summed as exact bigints (the chi2 pattern; decimal
    DIVISION was rejected because result-scale rounding rules differ
    across engines). The F ratio is then closed-form
    double arithmetic performed identically by both engines. Two
    aggregate-sized stages, no window, no second pass."""
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("c"),
    )
    g = v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    t = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.sum("ss").cast("decimal(38,0)").alias("ss"),
        F.sum(
            F.floor(
                F.col("s").cast("double") * F.col("s") / F.col("n") * F.lit(10.0)
            ).cast("bigint")
        ).alias("sb_units"),
    )
    sb = F.col("sb_units") / F.lit(10.0)
    ssb = sb - F.col("s").cast("double") * F.col("s") / F.col("n")
    ssw = F.col("ss").cast("double") - sb
    return t.select(
        "k",
        "n",
        F.round(
            (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))), 6
        ).alias("f_stat"),
    )


# --- naive-forecast evaluation ------------------------------------------------


@register(
    "forecast_eval_naive",
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
l AS (
  SELECT event_type, day, n,
         LAG(n, 7) OVER (PARTITION BY event_type ORDER BY day) AS pred
  FROM daily),
e AS (
  SELECT event_type, n, pred, ABS(n - pred) AS ae,
         CAST(n - pred AS BIGINT) * (n - pred) AS se,
         CAST(FLOOR(CAST(ABS(n - pred) AS DOUBLE) / n * 1000000000.0)
              AS BIGINT) AS ape_units
  FROM l WHERE pred IS NOT NULL)
SELECT event_type, COUNT(*) AS n_days,
       ROUND(CAST(SUM(ae) AS DOUBLE) / COUNT(*), 6) AS mae,
       ROUND(SQRT(CAST(SUM(se) AS DOUBLE) / COUNT(*)), 6) AS rmse,
       ROUND(CAST(SUM(ape_units) AS BIGINT) / (COUNT(*) * 1000000000.0), 6)
         AS mape
FROM e GROUP BY event_type
""",
)
def q_forecast_eval_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy scorecard (MAE / RMSE / MAPE) of the seasonal
    naive lag-7 predictor over daily event counts per type — the
    baseline every forecasting pipeline must beat, and the same
    evaluation harness any model's backtest uses. Absolute and squared
    errors are exact integers; MAPE's per-row rational |e|/n is
    floor-scaled to 1e-9 units BEFORE summing so the aggregate never
    becomes an order-dependent float fold. One shuffle for the daily
    rollup; the lag runs in a per-type partitioned window."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    l = daily.withColumn("pred", F.lag("n", 7).over(w)).filter(
        F.col("pred").isNotNull()
    )
    err = F.col("n") - F.col("pred")
    e = l.select(
        "event_type",
        "n",
        F.abs(err).alias("ae"),
        (err.cast("bigint") * err).alias("se"),
        F.floor(
            F.abs(err).cast("double") / F.col("n") * F.lit(1000000000.0)
        )
        .cast("bigint")
        .alias("ape_units"),
    )
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.sum("ae").cast("double") / F.count(F.lit(1)), 6).alias("mae"),
        F.round(
            F.sqrt(F.sum("se").cast("double") / F.count(F.lit(1))), 6
        ).alias("rmse"),
        F.round(
            F.sum("ape_units") / (F.count(F.lit(1)) * F.lit(1000000000.0)), 6
        ).alias("mape"),
    )


# --- item-item collaborative filtering ----------------------------------------


@register(
    "item_cf_scores",
    """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
freq AS (SELECT l_partkey AS item, COUNT(*) AS f FROM li GROUP BY 1),
pairs AS (
  SELECT x.l_partkey AS a, y.l_partkey AS b, COUNT(*) AS support
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY 1, 2)
SELECT p.a, p.b, p.support,
       ROUND(CAST(p.support AS DOUBLE) / SQRT(CAST(fa.f AS DOUBLE) * fb.f), 6)
         AS cosine
FROM pairs p
JOIN freq fa ON p.a = fa.item
JOIN freq fb ON p.b = fb.item
ORDER BY cosine DESC, p.a, p.b
LIMIT 100
""",
)
def q_item_cf_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering scores over the order-basket
    matrix: cosine similarity of binary item vectors reduces to
    support / sqrt(freq_a * freq_b) — the classic co-occurrence
    recommender (Sarwar et al., WWW 2001). The support table is the
    SAME memoized co-purchase pair-count build shared by the whole
    graph family (zero extra shuffles beyond two broadcast frequency
    joins), which is exactly how a production recommender amortizes its
    co-occurrence pass. Top-100 through TakeOrderedAndProject; one
    double expression from exact integers, rounded once."""
    from taxi_data_datapipeline_spark.queries_advanced import (
        _copurchase_pair_counts,
    )

    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    freq = li.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).alias("f")
    )
    pairs = _copurchase_pair_counts(spark, sf_dir)
    fa = freq.select(F.col("item").alias("a"), F.col("f").alias("fa"))
    fb = freq.select(F.col("item").alias("b"), F.col("f").alias("fb"))
    return (
        pairs.join(F.broadcast(fa), "a")
        .join(F.broadcast(fb), "b")
        .select(
            "a",
            "b",
            "support",
            F.round(
                F.col("support").cast("double")
                / F.sqrt(F.col("fa").cast("double") * F.col("fb")),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "a", "b")
        .limit(100)
    )


# --- smoothed target encoding -------------------------------------------------


_TE_ALPHA = 10


@register(
    "target_encoding",
    f"""
WITH v AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
  FROM events),
g AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS s
      FROM v GROUP BY 1),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(s) AS BIGINT) AS ts FROM g)
SELECT g.event_type, g.n,
       ROUND(CAST(g.s AS DOUBLE) / g.n, 6) AS raw_mean_cents,
       ROUND((CAST(g.s AS DOUBLE) + {_TE_ALPHA}.0
              * (CAST(t.ts AS DOUBLE) / t.tn))
             / (g.n + {_TE_ALPHA}), 6) AS encoded_cents
FROM g CROSS JOIN t
""",
)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding of event_type against the value target
    (Micci-Barreca 2001): category mean shrunk toward the global mean
    with pseudo-count alpha=10 — the feature-engineering primitive for
    high-cardinality categoricals in tabular ML. Both means are single
    divisions of exact integer sums and the shrinkage is one shared
    arithmetic expression, so the encodings match bit-for-bit. The
    global statistics re-aggregate the (tiny) category table and
    broadcast back — two aggregate-sized stages after the one data
    shuffle."""
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("c"),
    )
    g = v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("s")
    )
    t = g.agg(F.sum("n").alias("tn"), F.sum("s").alias("ts"))
    return g.crossJoin(F.broadcast(t)).select(
        "event_type",
        "n",
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias(
            "raw_mean_cents"
        ),
        F.round(
            (
                F.col("s").cast("double")
                + F.lit(float(_TE_ALPHA))
                * (F.col("ts").cast("double") / F.col("tn"))
            )
            / (F.col("n") + _TE_ALPHA),
            6,
        ).alias("encoded_cents"),
    )


# --- argmax without a window --------------------------------------------------


@register(
    "brand_top_part",
    """
WITH r AS (
  SELECT p.p_brand, p.p_partkey,
         CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS BIGINT) AS rev_cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2),
m AS (
  SELECT p_brand,
         MAX({'v1': rev_cents, 'v2': -p_partkey}) AS best
  FROM r GROUP BY 1)
SELECT p_brand,
       -(best).v2 AS top_partkey,
       (best).v1 AS rev_cents
FROM m
""",
)
def q_brand_top_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highest-revenue part per brand WITHOUT a rank window: the argmax
    rides a single aggregation as a lexicographic struct MAX of
    (revenue, -partkey) — ties break toward the SMALLER partkey, made
    explicit by negating the key inside the struct (max_by's tie choice
    is engine-arbitrary and was rejected). One shuffle for the
    per-(brand, part) rollup, one aggregate-sized argmax pass; the
    window-free shape is what you want when groups are numerous and a
    per-group sort would dominate."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    r = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
                    "bigint"
                )
            ).alias("rev_cents")
        )
    )
    m = r.groupBy("p_brand").agg(
        F.max(
            F.struct(
                F.col("rev_cents").alias("v1"),
                (-F.col("p_partkey")).alias("v2"),
            )
        ).alias("best")
    )
    return m.select(
        "p_brand",
        (-F.col("best.v2")).alias("top_partkey"),
        F.col("best.v1").alias("rev_cents"),
    )


# --- streaming record-high detection ------------------------------------------


@register(
    "streaming_record_highs",
    """
WITH v AS (
  SELECT user_id, event_id, ts,
         CAST(FLOOR(value * 1e6) AS BIGINT) AS vunits
  FROM events),
m AS (
  SELECT user_id, event_id, vunits,
         MAX(vunits) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS prevmax
  FROM v)
SELECT user_id, event_id, vunits
FROM m WHERE prevmax IS NULL OR vunits > prevmax
""",
)
def q_streaming_record_highs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user record-high (high-water-mark) detection as a CUSTOM
    stateful streaming operator (applyInPandasWithState,
    streaming/records.py): one bigint of state per user, emitting each
    event that beats the running max. The batch oracle is the windowed
    strictly-previous MAX in (ts, event_id) order; over a drained
    AvailableNow run on time-ordered input the two are row-identical —
    the second custom-stateful operator verified under a full
    value-hash check (with streaming_twap). Values compare in exact
    fixed-point micro-units so the stream and the batch plan cannot
    disagree in the last float ulp."""
    from taxi_data_datapipeline_spark.queries_advanced import (
        _stream_events,
        _stream_session,
    )
    from taxi_data_datapipeline_spark.streaming.records import (
        record_high_stream,
    )

    spark = _stream_session(spark, sf_dir)
    raw = _stream_events(spark, sf_dir)
    highs = record_high_stream(raw)
    return drain(highs)


# --- PCA by fixed-point power iteration ---------------------------------------


_PCA_ITERS = 4
_PCA_UNITS = 1048576  # 2^20


def _pca_oracle(iters: int = _PCA_ITERS) -> str:
    steps = []
    prev = "v0"
    for k in range(1, iters + 1):
        steps.append(
            f"""av{k} AS (
  SELECT c.i, CAST(SUM(c.cij * {prev}.vu) AS DECIMAL(38,0)) AS av
  FROM c JOIN {prev} ON c.j = {prev}.j GROUP BY c.i),
sc{k} AS (SELECT MAX(ABS(av)) AS m FROM av{k}),
v{k} AS (
  SELECT av{k}.i AS j,
         CAST(FLOOR(CAST(av AS DOUBLE) / CAST(m AS DOUBLE) * {_PCA_UNITS}.0)
              AS BIGINT) AS vu
  FROM av{k} CROSS JOIN sc{k})"""
        )
        prev = f"v{k}"
    steps_sql = ",\n".join(steps)
    return f"""
WITH x AS (
  SELECT vec_id, i.i AS i,
         CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * {_PCA_UNITS}.0)
              AS BIGINT) AS xu
  FROM embeddings,
       LATERAL unnest(generate_series(1, len(embedding))) AS i(i)),
st AS (SELECT COUNT(*) AS n FROM embeddings),
s AS (SELECT i, CAST(SUM(xu) AS BIGINT) AS si FROM x GROUP BY i),
dev AS (
  SELECT x.vec_id, x.i, st.n * x.xu - s.si AS d
  FROM x JOIN s USING (i) CROSS JOIN st),
c AS (
  SELECT a.i AS i, b.i AS j,
         CAST(SUM(CAST(a.d AS DECIMAL(38,0)) * b.d) AS DECIMAL(38,0)) AS cij
  FROM dev a JOIN dev b ON a.vec_id = b.vec_id
  GROUP BY 1, 2),
v0 AS (SELECT unnest(generate_series(1, 64)) AS j,
              CAST({_PCA_UNITS} AS BIGINT) AS vu),
{steps_sql}
SELECT j AS dim, vu AS eigvec_units FROM {prev}
"""


@register("pca_power_iteration", _pca_oracle())
def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading principal component of the embedding covariance by 4
    fixed-point power iterations — distributed PCA with NO float folds
    anywhere: coordinates quantize to 2^20 units (exact IEEE scaling),
    deviations cross-multiply to integers (n*x - s, the ACF trick), the
    64x64 covariance accumulates in DECIMAL(38,0), and each iteration
    is an exact integer matrix-vector product renormalized by
    max|component| (one decimal->double division + FLOOR, identical in
    both engines). Seeded at the all-ones vector; a FIXED iteration
    count keeps the result a deterministic function of the data, so the
    oracle unrolls the iterations as chained CTEs.

    Scale shape: the O(N d^2) work runs as batch-local int64 Gram
    matmuls inside ONE mapInPandas pass — no explode, no row-level
    self-join. Sum_a d_ai*d_aj expands to n^2*G_ij - n*s_i*s_j (G = raw
    Gram, s = column sums), so only k*d^2 partial-matrix rows are ever
    shuffled (k = Arrow batch count), vs the old plan's rows x d explode
    feeding a rows x d^2 join. Products overflow int64 (|xu|~2^22,
    pair products to 2^44 summed over n rows), so each batch splits xu
    into hi = xu >> 16 (arithmetic, floor semantics for negatives) and
    lo = xu & 0xFFFF and accumulates three exact int64 Grams recombined
    as 2^32*Ghh + 2^16*Ghl + Gll in DECIMAL(38,0) — bit-identical to the
    oracle's deviation self-join. Eigenvector SIGN is pinned by the
    deterministic seed."""
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings", fan_out=True)
    shift = 16

    def gram_parts(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            xs = np.floor(
                np.array(pdf["embedding"].tolist(), dtype=np.float64)
                * float(_PCA_UNITS)
            ).astype(np.int64)
            d = xs.shape[1]
            hi = xs >> shift
            lo = xs & ((1 << shift) - 1)
            m = hi.T @ lo
            ghh, ghl, gll = hi.T @ hi, m + m.T, lo.T @ lo
            ii, jj = np.meshgrid(
                np.arange(1, d + 1), np.arange(1, d + 1), indexing="ij"
            )
            s_part = np.zeros((d, d), dtype=np.int64)
            s_part[:, 0] = xs.sum(axis=0)
            n_part = np.zeros((d, d), dtype=np.int64)
            n_part[0, 0] = len(xs)
            yield pd.DataFrame(
                {
                    "i": ii.ravel(),
                    "j": jj.ravel(),
                    "ghh": ghh.ravel(),
                    "ghl": ghl.ravel(),
                    "gll": gll.ravel(),
                    "s_part": s_part.ravel(),
                    "n_part": n_part.ravel(),
                }
            )

    tot = (
        e.select("embedding")
        .mapInPandas(
            gram_parts,
            "i int, j int, ghh long, ghl long, gll long, s_part long, n_part long",
        )
        .groupBy("i", "j")
        .agg(
            F.sum("ghh").alias("ghh"),
            F.sum("ghl").alias("ghl"),
            F.sum("gll").alias("gll"),
            F.sum("s_part").alias("s_part"),
            F.sum("n_part").alias("n_part"),
        )
        .localCheckpoint(eager=False)
    )
    dec = "decimal(38,0)"
    g = tot.select(
        "i",
        "j",
        (
            F.col("ghh").cast(dec) * F.lit(1 << (2 * shift)).cast(dec)
            + F.col("ghl").cast(dec) * F.lit(1 << shift).cast(dec)
            + F.col("gll").cast(dec)
        ).alias("gij"),
    )
    s = tot.filter(F.col("j") == 1).select("i", F.col("s_part").alias("si"))
    st = tot.agg(F.sum("n_part").alias("n"))
    c = (
        g.join(F.broadcast(s), "i")
        .join(
            F.broadcast(s.select(F.col("i").alias("j"), F.col("si").alias("sj"))),
            "j",
        )
        .crossJoin(F.broadcast(st))
        .select(
            "i",
            "j",
            (
                F.col("n").cast(dec) * F.col("n").cast(dec) * F.col("gij")
                - F.col("n").cast(dec) * F.col("si").cast(dec) * F.col("sj").cast(dec)
            )
            .cast(dec)
            .alias("cij"),
        )
        .localCheckpoint(eager=False)
    )
    v = spark.range(1, 65).select(
        F.col("id").alias("j"), F.lit(_PCA_UNITS).cast("bigint").alias("vu")
    )

    def step(v: DataFrame) -> DataFrame:
        av = (
            c.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(
                F.sum(F.col("cij") * F.col("vu"))
                .cast("decimal(38,0)")
                .alias("av")
            )
        )
        sc = av.agg(F.max(F.abs(F.col("av"))).alias("m"))
        return av.crossJoin(F.broadcast(sc)).select(
            F.col("i").alias("j"),
            F.floor(
                F.col("av").cast("double")
                / F.col("m").cast("double")
                * F.lit(float(_PCA_UNITS))
            )
            .cast("bigint")
            .alias("vu"),
        )

    v = iterate(v, step, _PCA_ITERS)[-1]
    return v.select(F.col("j").alias("dim"), F.col("vu").alias("eigvec_units"))


# --- Split-conformal prediction intervals -------------------------------------


@register(
    "conformal_event_interval",
    """
WITH e AS (
  SELECT event_id, event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 100 AS b
  FROM events),
model AS (
  SELECT event_type,
         CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS pred
  FROM e WHERE b < 60 GROUP BY 1),
calib AS (
  SELECT e.event_type, ABS(e.cents - m.pred) AS r, e.event_id
  FROM e JOIN model m USING (event_type) WHERE b >= 60 AND b < 80),
ranked AS (
  SELECT event_type, r,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY r, event_id)
           AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS nc
  FROM calib),
q AS (
  SELECT event_type, r AS qhat, nc
  FROM ranked WHERE rk = (9 * nc + 9) // 10),
test AS (
  SELECT e.event_type, ABS(e.cents - m.pred) AS r
  FROM e JOIN model m USING (event_type) WHERE b >= 80)
SELECT t.event_type,
       CAST(q.nc AS BIGINT) AS n_calib,
       COUNT(*) AS n_test,
       ROUND(q.qhat / 100, 6) AS interval_halfwidth,
       CAST(SUM(CASE WHEN t.r <= q.qhat THEN 1 ELSE 0 END) AS BIGINT)
         AS n_covered,
       ROUND(SUM(CASE WHEN t.r <= q.qhat THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
         AS coverage
FROM test t JOIN q USING (event_type)
GROUP BY t.event_type, q.nc, q.qhat
""",
)
def q_conformal_event_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (Vovk et al.; Lei et al.
    JASA'18) around a per-type mean model: hash-split train/calibration/
    test, fit on train, take the ceil(0.9*(n))-th smallest absolute
    residual on calibration as the interval half-width, and report the
    finite-sample test coverage — the distribution-free uncertainty
    wrapper a production scoring pipeline puts around ANY point model.

    Determinism: the model is an exact-integer mean (one double
    division), residuals are single double subtractions, and the
    calibration quantile is an ORDER-STATISTIC SELECTION (row_number
    over (residual, event_id) — no interpolation, ties broken by key),
    with the rank computed in integer arithmetic ((9n+9)//10, not
    0.9*n float). Both engines therefore agree bit-for-bit.

    Scale shape: two shuffles keyed by event_type (model agg, quantile
    rank) + broadcast joins of the tiny per-type model/quantile frames
    back onto the data-sized stream. The rank window partitions by
    event_type — bounded partitions, never global."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("cents"),
        (
            F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % 100
        ).alias("b"),
        # consumed by all three hash-split slices (train/calib/test) —
        # materialize so the scan+md5 projection runs once; the per-type
        # model below likewise feeds both residual slices.
    ).localCheckpoint(eager=True)
    model = (
        e.filter(F.col("b") < 60)
        .groupBy("event_type")
        .agg((F.sum("cents").cast("double") / F.count(F.lit(1))).alias("pred"))
        .localCheckpoint(eager=True)
    )
    calib = (
        e.filter((F.col("b") >= 60) & (F.col("b") < 80))
        .join(F.broadcast(model), "event_type")
        .select("event_type", F.abs(F.col("cents") - F.col("pred")).alias("r"), "event_id")
    )
    wrank = Window.partitionBy("event_type").orderBy("r", "event_id")
    wcnt = Window.partitionBy("event_type")
    ranked = calib.select(
        "event_type",
        "r",
        F.row_number().over(wrank).alias("rk"),
        F.count(F.lit(1)).over(wcnt).alias("nc"),
    )
    q = ranked.filter(F.col("rk") == F.expr("(9 * nc + 9) DIV 10")).select(
        "event_type", F.col("r").alias("qhat"), "nc"
    )
    test = (
        e.filter(F.col("b") >= 80)
        .join(F.broadcast(model), "event_type")
        .select("event_type", F.abs(F.col("cents") - F.col("pred")).alias("r"))
    )
    return (
        test.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "nc", "qhat")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(F.when(F.col("r") <= F.col("qhat"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_covered"),
        )
        .select(
            "event_type",
            F.col("nc").cast("bigint").alias("n_calib"),
            "n_test",
            F.round(F.col("qhat") / 100, 6).alias("interval_halfwidth"),
            "n_covered",
            F.round(F.col("n_covered") / F.col("n_test"), 6).alias("coverage"),
        )
    )


# --- Isotonic regression (minimax PAV) on the daily series --------------------


@register(
    "isotonic_daily_revenue",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS y,
         COUNT(*) AS n
  FROM events GROUP BY 1),
p AS (
  SELECT a.day, a.y, a.n,
         COUNT(*) AS idx,
         CAST(SUM(b.y) AS BIGINT) AS py,
         CAST(SUM(b.n) AS BIGINT) AS pn
  FROM daily a JOIN daily b ON b.day <= a.day
  GROUP BY a.day, a.y, a.n),
win AS (
  SELECT pa.idx AS ai, pb.idx AS bi, pb.day AS bday,
         CAST(pb.py - pa.py + pa.y AS DOUBLE)
           / CAST(pb.pn - pa.pn + pa.n AS DOUBLE) AS avg_ab
  FROM p pa JOIN p pb ON pa.idx <= pb.idx),
msuff AS (
  SELECT ai, bi AS di, bday AS dday,
         MIN(avg_ab) OVER (PARTITION BY ai ORDER BY bi DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS m
  FROM win)
SELECT dday AS day,
       CAST(d.n AS BIGINT) AS n_events,
       ROUND(CAST(d.y AS DOUBLE) / d.n, 6) AS daily_avg,
       ROUND(MAX(msuff.m), 6) AS iso_avg
FROM msuff JOIN daily d ON d.day = msuff.dday
GROUP BY dday, d.n, d.y
""",
)
def q_isotonic_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) regression of average revenue
    per event over days — shape-constrained trend fitting, the
    calibration / monotone-trend primitive (Barlow et al.'s
    pool-adjacent-violators solution). Instead of iterating PAV (a
    variable-length sequential loop no engine reproduces bit-for-bit),
    this computes the CLOSED-FORM minimax characterization
    ``iso(d) = max_{a<=d} min_{b>=d} avg(y[a..b])`` with weighted
    window averages from exact integer prefix sums — a deterministic
    function of the data that both engines evaluate identically (one
    double division per window, min/max over doubles).

    Scale shape: the data-sized stage is the one-shuffle day rollup;
    everything after runs on the DAYS-bounded series (pair frame is
    days^2 rows — the Theil-Sen argument), with the suffix-min as a
    window PARTITIONED by window-start, never global. At production day
    counts (~10^3) the pair frame is ~10^6 rows — trivial."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    cents = F.col("value").cast("decimal(18,2)") * 100
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(cents).cast("bigint").alias("y"),
        F.count(F.lit(1)).alias("n"),
    )
    b = daily.select(
        F.col("day").alias("bday"), F.col("y").alias("by"), F.col("n").alias("bn")
    )
    p = (
        daily.join(F.broadcast(b), F.col("bday") <= F.col("day"))
        .groupBy("day", "y", "n")
        .agg(
            F.count(F.lit(1)).alias("idx"),
            F.sum("by").alias("py"),
            F.sum("bn").alias("pn"),
        )
    )
    pa = p.select(
        F.col("idx").alias("ai"),
        F.col("py").alias("apy"),
        F.col("pn").alias("apn"),
        F.col("y").alias("ay"),
        F.col("n").alias("an"),
    )
    pb = p.select(
        F.col("idx").alias("bi"),
        F.col("day").alias("bday"),
        F.col("py").alias("bpy"),
        F.col("pn").alias("bpn"),
    )
    win = pa.join(F.broadcast(pb), F.col("ai") <= F.col("bi")).select(
        "ai",
        "bi",
        "bday",
        (
            (F.col("bpy") - F.col("apy") + F.col("ay")).cast("double")
            / (F.col("bpn") - F.col("apn") + F.col("an")).cast("double")
        ).alias("avg_ab"),
    )
    suffix = Window.partitionBy("ai").orderBy(F.col("bi").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    msuff = win.select(
        "bi", "bday", F.min("avg_ab").over(suffix).alias("m")
    )
    return (
        msuff.groupBy("bday")
        .agg(F.max("m").alias("mx"))
        .join(daily, F.col("bday") == F.col("day"))
        .select(
            "day",
            F.col("n").cast("bigint").alias("n_events"),
            F.round(F.col("y").cast("double") / F.col("n"), 6).alias("daily_avg"),
            F.round(F.col("mx"), 6).alias("iso_avg"),
        )
    )


# --- Kendall tau on the daily series ------------------------------------------


@register(
    "kendall_tau_daily",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x,
         CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS y
  FROM events GROUP BY 1),
pr AS (
  SELECT (b.x - a.x) AS dx, (b.y - a.y) AS dy
  FROM daily a JOIN daily b ON b.day > a.day),
s AS (
  SELECT COUNT(*) AS n_pairs,
         CAST(SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(SUM(CASE WHEN dx = 0 AND dy != 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS tx,
         CAST(SUM(CASE WHEN dy = 0 AND dx != 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS ty
  FROM pr)
SELECT n_pairs, c, d, tx, ty,
       ROUND(CAST(c - d AS DOUBLE)
             / SQRT(CAST(n_pairs - tx AS DOUBLE) * (n_pairs - ty)), 6)
         AS tau_b
FROM s
""",
)
def q_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between daily event volume and daily revenue — the
    concordance test that complements Spearman (rank-linear) with pure
    pair-ordering agreement. The series collapses to one row per day
    first, so the O(days^2) pair set is calendar-bounded (the Theil-Sen
    argument); concordant / discordant / tie counts are exact integers
    and tau-b is one closed-form double expression over them. At
    data-sized n the exact pair formulation gives way to the
    merge-sort inversion count — noted, not needed for an
    aggregate-sized series."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("y"),
    )
    a = daily.select(
        F.col("day").alias("d1"), F.col("x").alias("x1"), F.col("y").alias("y1")
    )
    b = daily.select(
        F.col("day").alias("d2"), F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    pr = a.join(F.broadcast(b), F.col("d2") > F.col("d1")).select(
        (F.col("x2") - F.col("x1")).alias("dx"),
        (F.col("y2") - F.col("y1")).alias("dy"),
    )
    prod = F.col("dx") * F.col("dy")
    s = pr.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(prod > 0, 1).otherwise(0)).alias("c"),
        F.sum(F.when(prod < 0, 1).otherwise(0)).alias("d"),
        F.sum(
            F.when((F.col("dx") == 0) & (F.col("dy") != 0), 1).otherwise(0)
        ).alias("tx"),
        F.sum(
            F.when((F.col("dy") == 0) & (F.col("dx") != 0), 1).otherwise(0)
        ).alias("ty"),
    )
    return s.select(
        "n_pairs",
        "c",
        "d",
        "tx",
        "ty",
        F.round(
            (F.col("c") - F.col("d")).cast("double")
            / F.sqrt(
                (F.col("n_pairs") - F.col("tx")).cast("double")
                * (F.col("n_pairs") - F.col("ty"))
            ),
            6,
        ).alias("tau_b"),
    )


# --- per-group ntile ----------------------------------------------------------


@register(
    "ntile_quartiles",
    """
WITH q AS (
  SELECT event_type, value, event_id,
         NTILE(4) OVER (PARTITION BY event_type
                        ORDER BY value, event_id) AS quartile
  FROM events)
SELECT event_type, quartile, COUNT(*) AS n,
       MIN(value) AS lo, MAX(value) AS hi
FROM q GROUP BY 1, 2
""",
)
def q_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type quartile assignment via NTILE(4) with a fully
    tie-broken ordering (value, event_id) — without the unique
    tiebreaker, rows with equal values straddle bucket boundaries in
    engine-arbitrary order and the bucket populations differ per run
    (both engines use the same floor-based NTILE distribution, so a
    TOTAL order makes them identical). Partitioned by event_type — the
    per-group quantile-bucketing shape; the global variant would use
    the broadcast percentile edges of equidepth_buckets instead of a
    window."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.select(
            "event_type", "value", "event_id", F.ntile(4).over(w).alias("quartile")
        )
        .groupBy("event_type", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


# --- complex-event sequence matching ------------------------------------------


@register(
    "cep_view_click_purchase",
    """
WITH p AS (SELECT user_id, event_id, ts FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
pc AS (
  SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
         MAX({'t': c.ts, 'e': c.event_id}) AS bc
  FROM p JOIN c ON c.user_id = p.user_id
       AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 48 HOUR
  GROUP BY 1, 2, 3),
pcv AS (
  SELECT pc.user_id, pc.purchase_id, pc.purchase_ts,
         (pc.bc).e AS click_id,
         MAX({'t': v.ts, 'e': v.event_id}) AS bv
  FROM pc JOIN v ON v.user_id = pc.user_id
       AND v.ts <= (pc.bc).t AND v.ts >= (pc.bc).t - INTERVAL 48 HOUR
  GROUP BY 1, 2, 3, 4)
SELECT user_id, purchase_id, purchase_ts, click_id, (bv).e AS view_id
FROM pcv
""",
)
def q_cep_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event sequence match (MATCH_RECOGNIZE-lite): for each
    purchase, the latest click within 48 hours before it, and for
    that click the latest view within 48 hours before IT (the synthetic
    stream averages ~11 h between events per user, so a minutes-scale
    window matches nothing) — the
    view -> click -> purchase attribution path, composed from TWO
    chained as-of joins with tolerance (operators/asof.py — the
    union-marker single-shuffle plan, not a range-join blowup; the
    oracle uses the equivalent bounded range join + struct-max, which
    is fine at oracle scale but quadratic in hot users). Ties at equal
    timestamps resolve to the larger event_id in both formulations
    (the as-of join's struct-wise max IS the SQL MAX(STRUCT(ts, id))).
    Purchases without a qualifying chain drop out (inner semantics)."""
    from taxi_data_datapipeline_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")

    def typed(t: str, id_alias: str) -> DataFrame:
        return ev.filter(F.col("event_type") == t).select(
            "user_id", F.col("event_id").alias(id_alias), "ts"
        )

    p = typed("purchase", "purchase_id").withColumnRenamed("ts", "purchase_ts")
    c = typed("click", "click_id")
    v = typed("view", "view_id")
    pc = asof_join(
        p,
        c,
        on=["user_id"],
        left_ts="purchase_ts",
        right_ts="ts",
        right_cols=["click_id"],
        tolerance="48 hours",
    ).filter(F.col("ts_asof").isNotNull())
    pc = pc.select(
        "user_id",
        "purchase_id",
        "purchase_ts",
        F.col("click_id_asof").alias("click_id"),
        F.col("ts_asof").alias("click_ts"),
    )
    pcv = asof_join(
        pc,
        v,
        on=["user_id"],
        left_ts="click_ts",
        right_ts="ts",
        right_cols=["view_id"],
        tolerance="48 hours",
    ).filter(F.col("ts_asof").isNotNull())
    return pcv.select(
        "user_id",
        "purchase_id",
        "purchase_ts",
        "click_id",
        F.col("view_id_asof").alias("view_id"),
    )


# --- RAKE keyword extraction --------------------------------------------------


_RAKE_STOPS = ("the", "and", "of", "to", "a", "in", "is", "it")
_RAKE_UNITS = 10**9


@register(
    "rake_keywords",
    f"""
WITH toks AS (
  SELECT doc_id, i.i AS pos, w.ws[i.i] AS word
  FROM (SELECT doc_id, {_SQL_SUBTOKS} AS ws FROM documents) w,
       LATERAL unnest(generate_series(1, len(w.ws))) AS i(i)),
marked AS (
  SELECT doc_id, pos, word,
         CASE WHEN word IN {repr(tuple(_RAKE_STOPS))} THEN 1 ELSE 0 END
           AS brk
  FROM toks),
ph AS (
  SELECT doc_id, pos, word, brk,
         CAST(SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS phrase_id
  FROM marked),
member AS (SELECT doc_id, phrase_id, pos, word FROM ph WHERE brk = 0),
plen AS (
  SELECT doc_id, phrase_id, COUNT(*) AS l
  FROM member GROUP BY doc_id, phrase_id),
wstat AS (
  SELECT m.word, COUNT(*) AS freq, CAST(SUM(p.l) AS BIGINT) AS degree
  FROM member m JOIN plen p USING (doc_id, phrase_id)
  GROUP BY m.word),
wscore AS (
  SELECT word, (degree * {_RAKE_UNITS}) // freq AS score_units FROM wstat),
pscore AS (
  SELECT m.doc_id, m.phrase_id,
         string_agg(m.word, ' ' ORDER BY m.pos) AS phrase,
         CAST(SUM(s.score_units) AS BIGINT) AS score_units
  FROM member m JOIN wscore s USING (word)
  GROUP BY m.doc_id, m.phrase_id)
SELECT doc_id, phrase, score_units FROM (
  SELECT doc_id, phrase, score_units,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score_units DESC, phrase, phrase_id)
           AS rk
  FROM pscore)
WHERE rk <= 3
""",
)
def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs; each word scores degree/frequency
    (degree = total length of phrases containing it) and a phrase scores
    the sum of its member word scores; top-3 phrases per document.

    Exactness: word scores are TRUNCATING integer divisions scaled to
    1e9 units (degree*1e9 // freq — no doubles at all), so the phrase
    score is an exact bigint sum and the per-document ranking (score,
    phrase, phrase_id) is engine-identical. Plan shape: one posexplode
    pass, phrase ids from a per-document running sum (partitioned
    window), the word-statistics table is vocabulary-sized and joins
    back broadcast-style, and the top-3 is a per-document rank window —
    every window keyed, nothing global."""
    docs = load(spark, sf_dir, "documents", fan_out=True)
    toks = docs.select(
        "doc_id", F.posexplode(bpe_ish_tokens(F.col("text"))).alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    marked = toks.withColumn(
        "brk", F.when(F.col("word").isin(*_RAKE_STOPS), 1).otherwise(0)
    )
    wdoc = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ph = marked.withColumn("phrase_id", F.sum("brk").over(wdoc))
    # phrase membership feeds THREE consumers (phrase lengths, word
    # stats, phrase scores) — materialize so the tokenize + running-sum
    # window runs once, not three times.
    member = ph.filter(F.col("brk") == 0).select(
        "doc_id", "phrase_id", "pos", "word"
    ).localCheckpoint(eager=True)
    plen = member.groupBy("doc_id", "phrase_id").agg(
        F.count(F.lit(1)).alias("l")
    )
    wstat = (
        member.join(plen.hint("shuffle_hash"), ["doc_id", "phrase_id"])
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("l").alias("degree"))
    )
    wscore = wstat.select(
        "word",
        F.expr(f"(degree * {_RAKE_UNITS}) DIV freq").alias("score_units"),
    )
    pscore = (
        member.join(wscore.hint("shuffle_hash"), "word")
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "word"))
                    ),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("phrase"),
            F.sum("score_units").alias("score_units"),
        )
    )
    wk = Window.partitionBy("doc_id").orderBy(
        F.col("score_units").desc(), "phrase", "phrase_id"
    )
    return (
        pscore.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "phrase", "score_units")
    )


# --- Lorenz curve of user activity --------------------------------------------


@register(
    "lorenz_user_activity",
    """
WITH ua AS (SELECT user_id, COUNT(*) AS a FROM events GROUP BY 1),
grp AS (SELECT a, COUNT(*) AS c FROM ua GROUP BY a),
cum AS (
  SELECT a, c,
         CAST(SUM(c) OVER (ORDER BY a) AS BIGINT) AS fu,
         CAST(SUM(a * c) OVER (ORDER BY a) AS BIGINT) AS fe
  FROM grp),
t AS (SELECT CAST(SUM(c) AS BIGINT) AS nu, CAST(SUM(a * c) AS BIGINT) AS ne
      FROM grp)
SELECT cum.a AS activity, cum.c AS users, cum.fu AS cum_users,
       cum.fe AS cum_events,
       ROUND(CAST(cum.fu AS DOUBLE) / t.nu, 6) AS user_share,
       ROUND(CAST(cum.fe AS DOUBLE) / t.ne, 6) AS event_share
FROM cum CROSS JOIN t
""",
)
def q_lorenz_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of user activity — "the bottom x% of users produce
    y% of events", the concentration curve behind the Gini coefficient
    (gini_revenue computes the summary scalar; this emits the curve).
    Users group by their exact event count, cumulative user and event
    mass come from the bucketed two-phase cumulation over the
    aggregate-sized activity histogram, and the shares are single exact
    divisions. One data-sized shuffle (per-user count)."""
    ev = load(spark, sf_dir, "events")
    ua = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("a"))
    grp = ua.groupBy("a").agg(F.count(F.lit(1)).alias("c"))
    cum = _cumulative_counts(
        grp.select(
            F.col("a").alias("value"),
            F.col("c").alias("c1"),
            (F.col("a") * F.col("c")).alias("c2"),
        )
    )
    t = grp.agg(
        F.sum("c").alias("nu"), F.sum(F.col("a") * F.col("c")).alias("ne")
    )
    return cum.crossJoin(F.broadcast(t)).select(
        F.col("value").alias("activity"),
        F.col("c1").alias("users"),
        F.col("f1").alias("cum_users"),
        F.col("f2").alias("cum_events"),
        F.round(F.col("f1").cast("double") / F.col("nu"), 6).alias("user_share"),
        F.round(F.col("f2").cast("double") / F.col("ne"), 6).alias(
            "event_share"
        ),
    )


# --- privacy tier: k-anonymity audit and seeded DP noise ----------------------


_KANON_K = 5


@register(
    "k_anonymity_report",
    f"""
WITH q AS (
  SELECT event_type,
         dayofweek(CAST(ts AS DATE)) AS dw,
         CAST(FLOOR(value / 50.0) AS BIGINT) AS value_band,
         user_id
  FROM events),
g AS (
  SELECT event_type, dw, value_band,
         COUNT(*) AS n_rows, COUNT(DISTINCT user_id) AS n_users
  FROM q GROUP BY 1, 2, 3)
SELECT COUNT(*) AS n_classes,
       CAST(SUM(CASE WHEN n_users < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS unsafe_classes,
       CAST(SUM(CASE WHEN n_users < {_KANON_K} THEN n_rows ELSE 0 END)
            AS BIGINT) AS unsafe_rows,
       CAST(MIN(n_users) AS BIGINT) AS min_class_users,
       ROUND(CAST(SUM(CASE WHEN n_users < {_KANON_K} THEN n_rows ELSE 0 END)
                  AS DOUBLE) / SUM(n_rows), 6) AS unsafe_row_share
FROM g
""",
)
def q_k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=5) over the quasi-identifier tuple
    (event_type, day-of-week, 50-unit value band): how many equivalence
    classes have fewer than k distinct users, and what fraction of rows
    sit in them — the release-gate check a privacy review runs before
    publishing event-level data (Sweeney 2002). Class membership counts
    are exact integers; one shuffle on the quasi-identifier key with the
    distinct-user count pre-deduped by the planner. The remediation
    (generalize bands / suppress classes) follows from this report."""
    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.dayofweek(F.col("ts").cast("date")).alias("dw"),
        F.floor(F.col("value") / 50.0).alias("value_band"),
        "user_id",
    )
    g = q.groupBy("event_type", "dw", "value_band").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("user_id").alias("n_users"),
    )
    unsafe = F.col("n_users") < _KANON_K
    return g.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(F.when(unsafe, 1).otherwise(0)).alias("unsafe_classes"),
        F.sum(F.when(unsafe, F.col("n_rows")).otherwise(0)).alias(
            "unsafe_rows"
        ),
        F.min("n_users").alias("min_class_users"),
        F.round(
            F.sum(F.when(unsafe, F.col("n_rows")).otherwise(0)).cast("double")
            / F.sum("n_rows"),
            6,
        ).alias("unsafe_row_share"),
    )


_DP_EPS_INV = 1.0  # Laplace scale b = sensitivity/epsilon = 1/1
# Per-release salt folded into the noise hash. The DEFAULT gives a fixed,
# oracle-checkable release: reproducibility, NOT privacy — anyone knowing
# the salt can invert the noise. A production release uses a fresh secret
# salt per publication, which is what makes the draw unpredictable.
_DP_SALT = "release-0"


@register(
    "dp_noisy_counts",
    f"""
WITH g AS (
  SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
u AS (
  SELECT event_type, n,
         (CAST(strpos('0123456789abcdef', substr(md5(event_type || ':{_DP_SALT}'), 1, 1)) - 1
               AS DOUBLE) * 16 * 16 * 16
          + CAST(strpos('0123456789abcdef', substr(md5(event_type || ':{_DP_SALT}'), 2, 1)) - 1
                 AS DOUBLE) * 16 * 16
          + CAST(strpos('0123456789abcdef', substr(md5(event_type || ':{_DP_SALT}'), 3, 1)) - 1
                 AS DOUBLE) * 16
          + CAST(strpos('0123456789abcdef', substr(md5(event_type || ':{_DP_SALT}'), 4, 1)) - 1
                 AS DOUBLE) + 0.5) / 65536.0 AS uu
  FROM g)
SELECT event_type, n,
       ROUND(n + CASE WHEN uu < 0.5
                      THEN {_DP_EPS_INV!r} * LN(2.0 * uu)
                      ELSE -{_DP_EPS_INV!r} * LN(2.0 * (1.0 - uu)) END,
             6) AS noisy_n
FROM u
""",
)
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private event-type counts via the Laplace
    mechanism (Dwork 2006), with the noise draw DERANDOMIZED for
    reproducibility: the uniform comes from the first 4 md5 nibbles of
    the group key (the engine's seeded-coin convention, same as
    weighted_sample) SALTED with the release id (_DP_SALT), pushed
    through the inverse-CDF transform. The default fixed salt makes the
    draw reproducible and oracle-checkable END-TO-END but provides NO
    privacy — the mechanism is invertible by anyone who knows the salt;
    a production release supplies a fresh secret salt per publication,
    which is the (only) source of unpredictability in this construction. LN parity
    across engines holds on this platform (token_entropy precedent);
    the uniform is offset by half a step so u is never 0 or 1."""
    ev = load(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    h = F.md5(F.concat(F.col("event_type"), F.lit(f":{_DP_SALT}")))
    nib = lambda i: (  # noqa: E731
        F.instr(F.lit("0123456789abcdef"), F.substring(h, i, 1)) - 1
    ).cast("double")
    uu = (
        nib(1) * 16 * 16 * 16 + nib(2) * 16 * 16 + nib(3) * 16 + nib(4) + 0.5
    ) / F.lit(65536.0)
    noise = F.when(
        uu < 0.5, F.lit(_DP_EPS_INV) * F.log(F.lit(2.0) * uu)
    ).otherwise(-F.lit(_DP_EPS_INV) * F.log(F.lit(2.0) * (F.lit(1.0) - uu)))
    return g.select(
        "event_type", "n", F.round(F.col("n") + noise, 6).alias("noisy_n")
    )


# --- Arrow-native multimodal bytes tier ---------------------------------------


@register(
    "multimodal_bytes_arrow",
    """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS content_sha,
       CASE WHEN octet_length(encode(text)) >= 256 THEN 'large' ELSE 'small'
            END AS size_class
FROM documents
""",
)
def q_multimodal_bytes_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal bytes-metadata projection through ``mapInArrow`` —
    the Arrow-RecordBatch API tier below mapInPandas (no pandas
    materialization), demonstrated against the SAME oracle as the
    built-in-expression multimodal_bytes so all three tiers (codegen
    built-ins, pandas batches, raw Arrow batches) are proven
    result-identical. See operators/multimodal.py:bytes_meta_arrow for
    when this tier is the right choice."""
    from taxi_data_datapipeline_spark.operators.multimodal import (
        bytes_meta_arrow,
    )

    return bytes_meta_arrow(load(spark, sf_dir, "documents", fan_out=True))


# --- bitmap-word exact distinct -----------------------------------------------


@register(
    "bitmap_distinct_users",
    """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
""",
)
def q_bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting via BITMAP WORDS (the roaring-bitmap /
    bitmap-index technique): pack user ids into 64-bit words
    (word = id DIV 64, bit = id MOD 64), OR the bits per
    (key, word) in one aggregation, then popcount-sum the words. The
    oracle is plain COUNT(DISTINCT) — this query PROVES the bitmap
    formulation exact.

    Why it matters at scale: per-(key, word) state is one bigint no
    matter how many of its 64 ids appear, so dense id spaces compress
    64x against the (key, user) pre-dedup pair shuffle
    (distinct_users_twophase) while keeping the same skew-safety — the
    shuffle key carries the word index. Two aggregations, both
    map-side-combinable; popcount (bit_count) is a codegen intrinsic in
    both engines."""
    ev = load(spark, sf_dir, "events")
    words = ev.select(
        "event_type",
        F.expr("user_id DIV 64").alias("word_ix"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))").alias(
            "bit"
        ),
    )
    packed = words.groupBy("event_type", "word_ix").agg(
        F.expr("bit_or(bit)").alias("word")
    )
    return packed.groupBy("event_type").agg(
        F.sum(F.expr("bit_count(word)")).alias("n_users")
    )


# --- multi-aggregate hourly pivot ---------------------------------------------


def _pivot_multi_oracle() -> str:
    cols = []
    for h in range(24):
        cols.append(
            f"CAST(SUM(CASE WHEN hour(ts) = {h} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_{h}"
        )
        cols.append(
            f"CAST(SUM(CASE WHEN hour(ts) = {h} THEN"
            f" CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
            f" ELSE 0 END) AS BIGINT) AS cents_{h}"
        )
    cols_sql = ",\n       ".join(cols)
    return f"""
SELECT event_type, CAST(ts AS DATE) AS day,
       {cols_sql}
FROM events
GROUP BY event_type, CAST(ts AS DATE)
"""


@register("hourly_pivot_multi", _pivot_multi_oracle())
def q_hourly_pivot_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pivot shape widened to MULTIPLE measures per bucket:
    for each (event_type, day), 24 hourly event counts AND 24 hourly
    revenue totals (exact integer cents) — 48 output measures from ONE
    shuffle. Same fixed-domain conditional-aggregation strategy as the
    reference pivot (operators/pivot.py): the explicit 0-23 hour domain
    means no second pass to discover pivot values and the whole row
    stays a single map-side-combinable aggregate, which is why adding a
    second measure costs zero extra shuffles (a naive two-pivot-joins
    formulation would pay two more)."""
    ev = load(spark, sf_dir, "events")
    h = F.hour("ts")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    aggs = []
    for hh in range(24):
        aggs.append(
            F.sum(F.when(h == hh, 1).otherwise(0)).alias(f"n_{hh}")
        )
        aggs.append(
            F.sum(F.when(h == hh, cents).otherwise(0)).alias(f"cents_{hh}")
        )
    return ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(*aggs)


# --- deterministic random walks -----------------------------------------------


_WALK_STEPS = 3


def _walks_oracle(steps: int = _WALK_STEPS) -> str:
    hops = []
    prev = "w0"
    for k in range(1, steps + 1):
        hops.append(
            f"""w{k} AS (
  SELECT w.start_node, w.path, w.cur,
         a.nbrs[1 + CAST(
             (strpos('0123456789abcdef',
                     substr(md5(CAST(w.cur AS VARCHAR) || ':{k}'), 1, 1)) - 1)
             * 16
             + strpos('0123456789abcdef',
                      substr(md5(CAST(w.cur AS VARCHAR) || ':{k}'), 2, 1)) - 1
             AS BIGINT) % len(a.nbrs)] AS nxt
  FROM {prev} w JOIN adj a ON a.u = w.cur),
w{k}x AS (
  SELECT start_node, path || '->' || CAST(nxt AS VARCHAR) AS path, nxt AS cur
  FROM w{k})"""
        )
        prev = f"w{k}x"
    hops_sql = ",\n".join(hops)
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT x.l_partkey AS a, y.l_partkey AS b
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY x.l_partkey, y.l_partkey
  HAVING COUNT(*) >= 2),
sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
adj AS (SELECT u, list_sort(list(v)) AS nbrs FROM sym GROUP BY u),
w0 AS (SELECT u AS start_node, CAST(u AS VARCHAR) AS path, u AS cur FROM adj),
{hops_sql}
SELECT start_node, path FROM {prev}
"""


@register("hash_random_walks", _walks_oracle())
def q_hash_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk-style random walks (Perozzi 2014) over the
    support-pruned co-purchase graph, DERANDOMIZED: at step k from node
    c the next hop is sorted-neighbor index md5(c ':' k) % degree — the
    engine's content-hash coin, so the walk corpus is a reproducible
    function of the graph (the property that lets embeddings train
    identically on reruns, and lets a SQL oracle replay every walk).
    One walk of 3 steps per node; each step is a join of the frontier
    against the node-sized sorted-adjacency table — the standard
    distributed walk shape, O(walks) rows per step with the hub-array
    caveat of neighbor_jaccard. Emits the '->'-joined path string."""
    from taxi_data_datapipeline_spark.queries_advanced import (
        _copurchase_edges_support,
    )

    e = _copurchase_edges_support(spark, sf_dir)
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    adj = sym.groupBy("u").agg(F.sort_array(F.collect_list("v")).alias("nbrs"))
    w = adj.select(
        F.col("u").alias("start_node"),
        F.col("u").cast("string").alias("path"),
        F.col("u").alias("cur"),
    )
    hexs = "0123456789abcdef"
    for k in range(1, _WALK_STEPS + 1):
        h = F.md5(F.concat(F.col("cur").cast("string"), F.lit(f":{k}")))
        idx = (
            (F.instr(F.lit(hexs), F.substring(h, 1, 1)) - 1) * 16
            + (F.instr(F.lit(hexs), F.substring(h, 2, 1)) - 1)
        ).cast("bigint")
        w = (
            w.join(adj.hint("shuffle_hash"), w.cur == adj.u)
            .select(
                "start_node",
                F.concat(
                    F.col("path"),
                    F.lit("->"),
                    F.element_at(
                        F.col("nbrs"),
                        (F.lit(1) + idx % F.size("nbrs")).cast("int"),
                    ).cast("string"),
                ).alias("path"),
                F.element_at(
                    F.col("nbrs"),
                    (F.lit(1) + idx % F.size("nbrs")).cast("int"),
                ).alias("cur"),
            )
        )
    return w.select("start_node", "path")


# --- quantile normalization across sources ------------------------------------


@register(
    "quantile_normalize_lengths",
    """
WITH d AS (SELECT doc_id, source, n_chars FROM documents),
pooledg AS (SELECT n_chars AS v, COUNT(*) AS c FROM d GROUP BY 1),
pooled AS (
  SELECT v, c, CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS f FROM pooledg),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
ranked AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS r,
         COUNT(*) OVER (PARTITION BY source) AS m
  FROM d)
SELECT rk.doc_id, rk.source, rk.n_chars,
       p.v AS normalized_len
FROM ranked rk
CROSS JOIN nn
JOIN pooled p
  ON p.f - p.c < (rk.r * nn.n + rk.m - 1) // rk.m
 AND (rk.r * nn.n + rk.m - 1) // rk.m <= p.f
""",
)
def q_quantile_normalize_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of document lengths across sources (the
    batch-effect correction used when corpus slices must share a
    distribution before mixing): a document at within-source rank r of
    m maps to the pooled distribution's value at position
    ceil(r*N/m). Ranks come from per-source windows (keyed, never
    global); the pooled CDF is the bucketed two-phase cumulation over
    the aggregate-sized length histogram, and the position lookup is a
    bracketing range join (f-c < p <= f — the theil_sen median
    selection idiom) against that BROADCAST-sized table. All integer
    arithmetic; ceil is (r*N + m - 1) DIV m with positive operands, so
    both engines truncate identically."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    pooledg = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    pooled = _cumulative_counts(
        pooledg.select(
            F.col("v").cast("double").alias("value"),
            F.col("c").alias("c1"),
            F.lit(0).alias("c2"),
        )
    ).select(
        F.col("value").cast("bigint").alias("v"),
        F.col("c1").alias("c"),
        F.col("f1").alias("f"),
    )
    nn = d.agg(F.count(F.lit(1)).alias("n"))
    wsrc = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(wsrc).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("m"),
    )
    p = F.expr("(r * n + m - 1) DIV m")
    return (
        ranked.crossJoin(F.broadcast(nn))
        .join(
            F.broadcast(pooled),
            (F.col("f") - F.col("c") < p) & (p <= F.col("f")),
        )
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.col("v").alias("normalized_len"),
        )
    )


# --- skip-gram pairs from walks -----------------------------------------------


def _skipgram_oracle() -> str:
    walks = _walks_oracle()
    body = walks.split("WITH", 1)[1].rsplit("SELECT start_node, path", 1)[0]
    last = f"w{_WALK_STEPS}x"
    return f"""
WITH {body.strip().rstrip(',')},
seq AS (
  SELECT start_node, string_split(path, '->') AS nodes FROM {last}),
pos AS (
  SELECT CAST(s.nodes[i.i] AS BIGINT) AS center,
         CAST(s.nodes[j.j] AS BIGINT) AS context
  FROM seq s,
       LATERAL unnest(generate_series(1, len(s.nodes))) AS i(i),
       LATERAL unnest(generate_series(1, len(s.nodes))) AS j(j)
  WHERE i.i != j.j AND abs(i.i - j.j) <= 2)
SELECT center, context, COUNT(*) AS cnt
FROM pos GROUP BY center, context
"""


@register("walk_skipgram_pairs", _skipgram_oracle())
def q_walk_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) training pairs from the deterministic
    walk corpus — the exact data-prep step between random walks and a
    word2vec-style embedding fit (DeepWalk's contribution). Window size
    2 over each 4-node path; pair extraction is a double position
    explode over the walk table (walk-count-sized, not corpus-sized)
    followed by one count aggregation. Shares hash_random_walks' walk
    generation verbatim, so the two queries can never disagree about
    the corpus."""
    walks = q_hash_random_walks(spark, sf_dir)
    seq = walks.select(F.split("path", "->").alias("nodes"))
    pos = (
        seq.select(
            F.posexplode("nodes").alias("i", "center"), F.col("nodes")
        )
        .select(
            "i",
            F.col("center").cast("bigint").alias("center"),
            F.posexplode("nodes").alias("j", "context"),
        )
        .filter(
            (F.col("i") != F.col("j"))
            & (F.abs(F.col("i") - F.col("j")) <= 2)
        )
        .select("center", F.col("context").cast("bigint").alias("context"))
    )
    return pos.groupBy("center", "context").agg(
        F.count(F.lit(1)).alias("cnt")
    )


# --- cross-source duplication matrix ------------------------------------------


def _source_overlap_oracle() -> str:
    from taxi_data_datapipeline_spark.queries_data import _SQL_GRAMS

    return f"""
WITH sh AS (
  SELECT DISTINCT unnest({_SQL_GRAMS}) AS g, source FROM documents),
p AS (
  SELECT a.g, a.source AS source_a, b.source AS source_b
  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source)
SELECT source_a, source_b, COUNT(*) AS shared_shingles
FROM p GROUP BY source_a, source_b
"""


@register("source_overlap_matrix", _source_overlap_oracle())
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content-overlap matrix: for every source pair, how
    many distinct word 3-gram shingles appear in BOTH — the provenance /
    mirror-detection screen that runs before per-document dedup (the
    synthetic corpus has zero exact cross-source duplicates, so the
    shingle tier is the one that carries signal; same shapes as
    contamination_check). One shuffle keyed on the shingle; per-shingle
    source sets are bounded by the source count, so the self-join
    fanout is sources-per-shingle squared, never corpus-sized."""
    from taxi_data_datapipeline_spark.functions.text import ngram_shingles

    docs = load(spark, sf_dir, "documents", fan_out=True)
    sh = docs.select(
        F.explode(ngram_shingles("text", 3)).alias("g"), "source"
    ).distinct()
    a = sh.select("g", F.col("source").alias("source_a"))
    b = sh.select(F.col("g").alias("g2"), F.col("source").alias("source_b"))
    return (
        a.join(
            b,
            (F.col("g") == F.col("g2"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )


# --- sentence statistics ------------------------------------------------------


@register(
    "sentence_stats",
    r"""
WITH s AS (
  SELECT doc_id, source,
         list_filter(
           list_transform(string_split_regex(text, '[.!?]+'), t -> trim(t)),
           t -> t != '') AS sents
  FROM documents),
f AS (
  SELECT doc_id, source, len(sents) AS n_sents,
         CAST(list_sum(list_transform(sents, t -> length(t))) AS BIGINT)
           AS sent_chars
  FROM s)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_sents) AS BIGINT) AS total_sents,
       ROUND(CAST(SUM(n_sents) AS DOUBLE) / COUNT(*), 6)
         AS sents_per_doc,
       ROUND(CAST(SUM(sent_chars) AS DOUBLE) / SUM(n_sents), 6)
         AS chars_per_sent
FROM f GROUP BY source
""",
)
def q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation statistics per source (sentences per
    document, characters per sentence) — the readability/prose-shape
    profile a curation run reports next to token stats. Segmentation is
    the regex [.!?]+ split with trimmed empties, computed identically by
    both engines; counts and character sums stay integers, divided once.
    Single scan, one source-keyed rollup — the whole sentence pass is
    map-side array work inside codegen."""
    docs = load(spark, sf_dir, "documents", fan_out=True)
    sents = F.filter(
        F.transform(F.split(F.col("text"), r"[.!?]+"), lambda t: F.trim(t)),
        lambda t: t != "",
    )
    f = docs.select(
        "source",
        F.size(sents).alias("n_sents"),
        F.aggregate(
            F.transform(sents, lambda t: F.length(t).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("sent_chars"),
    )
    return f.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_sents").alias("total_sents"),
        F.round(
            F.sum("n_sents").cast("double") / F.count(F.lit(1)), 6
        ).alias("sents_per_doc"),
        F.round(
            F.sum("sent_chars").cast("double") / F.sum("n_sents"), 6
        ).alias("chars_per_sent"),
    )


# --- Count-Min Sketch heavy hitters -------------------------------------------


_CMS_DEPTH = 4
_CMS_WIDTH = 64


def _cms_hash_sql(row: int) -> str:
    # Two md5 nibbles of (user_id ':' row) -> bucket in [0, width)
    return (
        f"((strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)"
        f" || ':{row}'), 1, 1)) - 1) * 16"
        f" + strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)"
        f" || ':{row}'), 2, 1)) - 1) % {_CMS_WIDTH}"
    )


def _cms_oracle() -> str:
    rows_union = " UNION ALL ".join(
        f"SELECT {r} AS r, {_cms_hash_sql(r)} AS w, user_id FROM events"
        for r in range(_CMS_DEPTH)
    )
    est_joins = "\n".join(
        f"JOIN cms c{r} ON c{r}.r = {r} AND c{r}.w = {_cms_hash_sql(r)}"
        for r in range(_CMS_DEPTH)
    )
    least = ", ".join(f"c{r}.cnt" for r in range(_CMS_DEPTH))
    return f"""
WITH cells AS ({rows_union}),
cms AS (SELECT r, w, COUNT(*) AS cnt FROM cells GROUP BY r, w),
truth AS (SELECT user_id, COUNT(*) AS true_cnt FROM events GROUP BY user_id),
est AS (
  SELECT t.user_id, t.true_cnt, LEAST({least}) AS est_cnt
  FROM truth t
  {est_joins})
SELECT user_id, true_cnt, est_cnt
FROM est
ORDER BY est_cnt DESC, user_id
LIMIT 20
"""


@register("cms_heavy_hitters", _cms_oracle())
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch heavy hitters (Cormode-Muthukrishnan 2005):
    a 4x64 counter matrix built in ONE aggregation (each event maps to
    depth buckets via the md5-coin hash family), point estimates as the
    min over rows, top-20 users by estimate with the true count
    alongside — the bounded-memory frequency sketch whose state is
    4*64 counters regardless of cardinality.

    Everything is DERANDOMIZED and additive: the hash family is
    content-hashed (engine-independent) and counter merges are sums, so
    the sketch is an exact deterministic function of the data and the
    whole pipeline — build, estimate, ranking — runs under the full
    value-hash oracle (a sketch tier the rows-only HLL entries cannot
    offer). The estimate >= truth guarantee is visible in the output
    columns."""
    ev = load(spark, sf_dir, "events")
    hexs = "0123456789abcdef"

    def bucket(r: int):
        h = F.md5(F.concat(F.col("user_id").cast("string"), F.lit(f":{r}")))
        return (
            (F.instr(F.lit(hexs), F.substring(h, 1, 1)) - 1) * 16
            + (F.instr(F.lit(hexs), F.substring(h, 2, 1)) - 1)
        ) % _CMS_WIDTH

    # One scan with a map-side (r, w) explode instead of a 4-branch
    # unionAll (4 events scans before); the groupBy result is identical.
    cells = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("r"), bucket(r).alias("w"))
                    for r in range(_CMS_DEPTH)
                ]
            )
        ).alias("c")
    ).select("c.r", "c.w")
    cms = cells.groupBy("r", "w").agg(F.count(F.lit(1)).alias("cnt"))
    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = truth
    ests = []
    for r in range(_CMS_DEPTH):
        cr = cms.filter(F.col("r") == r).select(
            F.col("w").alias(f"w{r}"), F.col("cnt").alias(f"cnt{r}")
        )
        est = est.join(F.broadcast(cr), bucket(r) == F.col(f"w{r}"))
        ests.append(F.col(f"cnt{r}"))
    return (
        est.select(
            "user_id", "true_cnt", F.least(*ests).alias("est_cnt")
        )
        .orderBy(F.col("est_cnt").desc(), "user_id")
        .limit(20)
    )


# --- portable HyperLogLog (derandomized, full oracle) -------------------------


_HLL_P = 8  # 2^8 = 256 registers; rel. error ~ 1.04/sqrt(256) = 6.5%
_HLL_M = 1 << _HLL_P
# alpha_m * m^2 * 2^33, precomputed so BOTH engines evaluate ONE double
# division on the exact-integer harmonic sum — bit-identical results.
_HLL_NUM = (0.7213 / (1 + 1.079 / _HLL_M)) * _HLL_M * _HLL_M * float(1 << 33)


@register(
    "hll_portable_daily",
    f"""
WITH h AS (
  SELECT CAST(ts AS DATE) AS day, user_id,
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
  FROM r GROUP BY day),
x AS (SELECT day, COUNT(DISTINCT user_id) AS exact_distinct FROM h GROUP BY day)
SELECT p.day, x.exact_distinct,
       CAST({_HLL_M} - p.n_present AS BIGINT) AS n_zero,
       CAST(p.s_present + ({_HLL_M} - p.n_present) * 8589934592 AS BIGINT)
         AS harmonic_scaled,
       {_HLL_NUM!r} / (p.s_present + ({_HLL_M} - p.n_present) * 8589934592)
         AS hll_estimate
FROM p JOIN x ON p.day = x.day
""",
)
def q_hll_portable_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct users via a PORTABLE HyperLogLog (Flajolet et al.
    2007) under the FULL value-hash oracle — the derandomized companion
    to the engine-native (rows-only) ``hll_daily_rollup``.

    The whole sketch is an exact deterministic function of the data:
    md5 splits into an 8-bit register index and a 32-bit word whose
    leading-zero count (via ``length(bin(w))`` — identical semantics in
    Spark and DuckDB) gives the register value; the harmonic mean is
    kept EXACT as the integer sum of ``2^(33 - M_j)`` (max 2^41 * 256,
    well inside bigint), absent registers contributing ``2^33`` each;
    the single float op — ``alpha * m^2 * 2^33 / S`` with a precomputed
    literal numerator — is one IEEE division, bit-identical across
    engines. No ln()/pow() (libm results differ across engines), no
    low-range linear-counting branch in the OUTPUT (``n_zero`` is
    emitted so a consumer can apply it); ``exact_distinct`` rides along
    so the ~6.5% error bound is visible in the result itself
    (tests/test_sketches.py asserts it).

    Scale shape: register build is ONE partial-aggregating groupBy on
    (day, bucket) — 256 rows per day regardless of cardinality — then a
    256->1 fold per day; the mergeability that makes HLL the standard
    100 TB distinct-count sketch is exactly the MAX-merge the first
    groupBy performs map-side."""
    ev = load(spark, sf_dir, "events")
    h = F.md5(F.col("user_id").cast("string"))
    base = ev.select(
        F.col("ts").cast("date").alias("day"),
        "user_id",
        F.conv(F.substring(h, 1, 2), 16, 10).cast("bigint").alias("bucket"),
        F.conv(F.substring(h, 3, 8), 16, 10).cast("bigint").alias("w"),
    )
    regs = (
        base.withColumn(
            "rho",
            F.when(F.col("w") == 0, F.lit(33)).otherwise(
                F.lit(33) - F.length(F.bin(F.col("w")))
            ),
        )
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("mr"))
    )
    per_day = regs.groupBy("day").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 33 - mr)")).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    exact = base.groupBy("day").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    s_total = F.col("s_present") + (_HLL_M - F.col("n_present")) * F.lit(
        1 << 33
    )
    return per_day.join(exact, "day").select(
        "day",
        "exact_distinct",
        (_HLL_M - F.col("n_present")).cast("bigint").alias("n_zero"),
        s_total.cast("bigint").alias("harmonic_scaled"),
        (F.lit(_HLL_NUM) / s_total.cast("double")).alias("hll_estimate"),
    )


# --- seasonal-residual anomaly detection --------------------------------------


@register(
    "seasonal_anomalies",
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
dow AS (
  SELECT event_type, dayofweek(day) AS dw,
         COUNT(*) AS days_n, CAST(SUM(n) AS BIGINT) AS dow_s
  FROM daily GROUP BY 1, 2),
res AS (
  SELECT d.event_type, d.day, d.n,
         d.n - CAST(t.dow_s AS DOUBLE) / t.days_n AS resid
  FROM daily d
  JOIN dow t ON d.event_type = t.event_type AND dayofweek(d.day) = t.dw),
med AS (
  SELECT event_type, quantile_cont(resid, 0.5) AS med FROM res GROUP BY 1),
dev AS (
  SELECT r.event_type, r.day, r.n, r.resid,
         ABS(r.resid - m.med) AS adev, m.med
  FROM res r JOIN med m ON r.event_type = m.event_type),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1)
SELECT d.event_type, d.day, d.n, ROUND(d.resid, 6) AS resid
FROM dev d JOIN mad m ON d.event_type = m.event_type
WHERE d.adev > 1.5 * 1.4826 * m.mad
""",
)
def q_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-hybrid anomaly detection (the Twitter S-H-ESD shape):
    remove weekly seasonality first (the seasonal_adjust decomposition),
    THEN apply the robust MAD gate (1.5 robust sigmas — the sensitivity
    knob; the well-behaved synthetic stream yields nothing at the
    textbook 3) to the residuals — a raw-value gate
    (anomaly_mad) would flag every ordinary weekend; deseasonalizing
    first is what turns "different day of week" into "actually
    anomalous". Composes two existing operators end-to-end: dow-mean
    residuals (broadcast profile join) and two exact-percentile passes
    over the aggregate-sized daily table. Emits the anomalous
    (type, day) rows with their residuals."""
    ev = load(spark, sf_dir, "events")
    # (type, day)-sized; consumed by the dow profile AND the residual
    # join — materialize so the events rollup runs once (16 scans /
    # 44 Exchanges in one plan before; res/dev below compound the reuse).
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    dow = daily.groupBy(
        "event_type", F.dayofweek("day").alias("dw")
    ).agg(F.count(F.lit(1)).alias("days_n"), F.sum("n").alias("dow_s"))
    mean = F.col("dow_s").cast("double") / F.col("days_n")
    res = (
        daily.withColumn("dw", F.dayofweek("day"))
        .join(F.broadcast(dow), ["event_type", "dw"])
        .select(
            "event_type", "day", "n", (F.col("n") - mean).alias("resid")
        )
    )
    med = res.groupBy("event_type").agg(
        F.percentile("resid", F.lit(0.5)).alias("med")
    )
    dev = res.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("resid") - F.col("med"))
    ).localCheckpoint(eager=True)  # (type, day)-sized, 2 consumers
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("adev") > 1.5 * 1.4826 * F.col("mad"))
        .select(
            "event_type", "day", "n", F.round("resid", 6).alias("resid")
        )
    )


# --- incremental near-dup screening -------------------------------------------


def _dedup_incremental_oracle() -> str:
    from taxi_data_datapipeline_spark.queries_data import _SQL_GRAMS

    return f"""
WITH g AS (SELECT doc_id, {_SQL_GRAMS} AS grams FROM documents),
o AS (SELECT * FROM g WHERE doc_id % 5 != 0),
n AS (SELECT * FROM g WHERE doc_id % 5 = 0)
SELECT new_doc, old_doc, jaccard FROM (
  SELECT n.doc_id AS new_doc, o.doc_id AS old_doc,
         ROUND(CAST(len(list_intersect(n.grams, o.grams)) AS DOUBLE)
               / len(list_distinct(list_concat(n.grams, o.grams))), 6)
           AS jaccard
  FROM n JOIN o ON true)
WHERE jaccard >= 0.5
"""


@register("dedup_incremental", _dedup_incremental_oracle())
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup screen of a 20% "new batch" (doc_id % 5 = 0)
    against the 80% existing corpus — the daily-ingest dedup shape:
    LSH band candidates are generated only BETWEEN sides, so the work is
    O(batch + candidates), never the O(corpus^2-ish) self-join a full
    re-dedup would pay (operators/dedup.py:minhash_lsh_incremental; the
    one-sided hot-bucket cap bounds boilerplate buckets). The oracle is
    the brute-force old x new scan at the verification threshold —
    valid for the same above-the-recall-cliff argument as
    minhash_lsh_dedup."""
    from taxi_data_datapipeline_spark.operators.dedup import (
        minhash_lsh_incremental,
    )

    docs = load(spark, sf_dir, "documents", fan_out=True)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    return minhash_lsh_incremental(old, new)


@register("streaming_incremental_dedup", _dedup_incremental_oracle())
def q_streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental near-dup screen ONLINE: the 20% "new batch"
    arrives as a file stream, is MinHash-banded per-row in the stream
    (no cross-row state — each row carries its own shingle set, so the
    signature is per-row array math instead of the batch tier's
    explode+aggregate), and joins stream-static against the old
    corpus's bucket table with in-stream exact verification. The bucket
    table stays a plan, not a materialized copy of 80% of the corpus:
    each micro-batch reads it, and one documents file drains in one
    micro-batch. Drained AvailableNow it must equal the batch
    dedup_incremental / brute-force oracle — the same result through a
    third execution architecture (streaming/dedup.py:
    lsh_incremental_stream). Multi-band duplicate candidates drop via
    answer-sized dropDuplicates state."""
    from taxi_data_datapipeline_spark.queries_advanced import _stream_session
    from taxi_data_datapipeline_spark.streaming.dedup import (
        build_old_buckets,
        lsh_incremental_stream,
    )

    spark = _stream_session(spark, sf_dir, table="documents")
    docs = load(spark, sf_dir, "documents")
    old_buckets = build_old_buckets(docs.filter(F.col("doc_id") % 5 != 0))
    new_stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{sf_dir}/documents*.parquet")
        .filter(F.col("doc_id") % 5 == 0)
    )
    out = lsh_incremental_stream(new_stream, old_buckets)
    return drain(out)


# --- Pareto revenue concentration ---------------------------------------------


@register(
    "pareto_revenue_share",
    f"""
WITH rev AS (
  SELECT o_custkey, CAST(SUM({_SQL_CENTS}) AS BIGINT) AS y
  FROM orders GROUP BY 1),
grp AS (SELECT y, COUNT(*) AS c FROM rev GROUP BY y),
cum AS (
  SELECT y, c,
         CAST(SUM(c) OVER (ORDER BY y) AS BIGINT) AS f,
         CAST(SUM(y * c) OVER (ORDER BY y) AS BIGINT) AS g
  FROM grp),
st AS (SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(y * c) AS BIGINT) AS s
       FROM grp),
br AS (
  SELECT cum.y, cum.f, cum.g, st.n, st.s, (8 * st.n) // 10 AS k
  FROM cum CROSS JOIN st
  WHERE cum.f - cum.c < (8 * st.n) // 10 AND (8 * st.n) // 10 <= cum.f)
SELECT n AS n_customers, n - k AS top_customers, s AS total_cents,
       s - (g - (f - k) * y) AS top_cents,
       ROUND(CAST(s - (g - (f - k) * y) AS DOUBLE) / s, 6) AS top_share
FROM br
""",
)
def q_pareto_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pareto headline number: what share of revenue comes from the
    top 20% of customers — computed EXACTLY, including the value group
    straddling the 80th-percentile rank (its members share one revenue
    value, so the partial group's mass is (f - k) * y, an integer). The
    bottom-80 cutoff k, the bracketing row, and both masses come from
    the same two-phase cumulation (user count + revenue mass channels);
    the share is one double division. One data-sized shuffle
    (per-customer rollup)."""
    o = load(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        ).alias("y")
    )
    grp = rev.groupBy("y").agg(F.count(F.lit(1)).alias("c"))
    cum = _cumulative_counts(
        grp.select(
            F.col("y").cast("double").alias("value"),
            F.col("c").alias("c1"),
            (F.col("y") * F.col("c")).alias("c2"),
        )
    ).select(
        F.col("value").cast("bigint").alias("y"),
        F.col("c1").alias("c"),
        F.col("f1").alias("f"),
        F.col("f2").alias("g"),
    )
    st = grp.agg(
        F.sum("c").alias("n"), F.sum(F.col("y") * F.col("c")).alias("s")
    )
    k = F.expr("(8 * n) DIV 10")
    br = (
        cum.crossJoin(F.broadcast(st))
        .filter((F.col("f") - F.col("c") < k) & (k <= F.col("f")))
        .withColumn("k", k)
    )
    top_cents = F.col("s") - (
        F.col("g") - (F.col("f") - F.col("k")) * F.col("y")
    )
    return br.select(
        F.col("n").alias("n_customers"),
        (F.col("n") - F.col("k")).alias("top_customers"),
        F.col("s").alias("total_cents"),
        top_cents.alias("top_cents"),
        F.round(top_cents.cast("double") / F.col("s"), 6).alias("top_share"),
    )


# --- batch perceptron training ------------------------------------------------


def _perceptron_oracle(rounds: int = 3) -> str:
    steps = ["b0 AS (SELECT CAST(0 AS BIGINT) AS c0, CAST(0 AS BIGINT) AS c1, CAST(0 AS BIGINT) AS c2)"]
    for k in range(1, rounds + 1):
        p = f"b{k - 1}"
        steps.append(
            f"""u{k} AS (
  SELECT CAST(SUM(CASE WHEN y * ({p}.c0 + {p}.c1 * x1 + {p}.c2 * x2) <= 0
                       THEN y ELSE 0 END) AS BIGINT) AS d0,
         CAST(SUM(CASE WHEN y * ({p}.c0 + {p}.c1 * x1 + {p}.c2 * x2) <= 0
                       THEN y * x1 ELSE 0 END) AS BIGINT) AS d1,
         CAST(SUM(CASE WHEN y * ({p}.c0 + {p}.c1 * x1 + {p}.c2 * x2) <= 0
                       THEN y * x2 ELSE 0 END) AS BIGINT) AS d2,
         CAST(SUM(CASE WHEN y * ({p}.c0 + {p}.c1 * x1 + {p}.c2 * x2) <= 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_mis
  FROM base CROSS JOIN {p}),
b{k} AS (
  SELECT {p}.c0 + u{k}.d0 AS c0, {p}.c1 + u{k}.d1 AS c1,
         {p}.c2 + u{k}.d2 AS c2
  FROM {p} CROSS JOIN u{k})"""
        )
    outs = " UNION ALL ".join(
        f"SELECT {k} AS round, u{k}.n_mis, b{k}.c0 AS beta0, b{k}.c1 AS beta1,"
        f" b{k}.c2 AS beta2 FROM u{k} CROSS JOIN b{k}"
        for k in range(1, rounds + 1)
    )
    return f"""
WITH base AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE -1 END AS y,
         CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x1,
         CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x2
  FROM lineitem),
{",".join(steps)}
{outs}
"""


@register("perceptron_train", _perceptron_oracle())
def q_perceptron_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-classifier training as a Spark plan: 3 unrolled rounds of
    the BATCH perceptron (Rosenblatt's rule summed over all currently
    misclassified rows — the order-free variant, unlike the sequential
    online perceptron, so it is partition-deterministic by
    construction). Features are integer cents (quantity, discount) plus
    bias; label +1 for returned lineitems. Every quantity in the loop —
    margins, update sums, coefficients — is BIGINT, the engine's
    landmine-17 pattern extended from PageRank/k-means/PCA to
    supervised training: no floats means no fold-order or rounding
    divergence anywhere, and the DuckDB oracle unrolls the identical
    rounds as chained CTEs.

    Plan shape per round: one map-side-combined aggregate over the base
    (the update vector) against the broadcast 1-row state — the
    scalar-broadcast idiom. The state row carries the round's n_mis and
    the updated coefficients, and is also that round's output row. At
    100 TB each round is a single pass; the weight vector state is 3
    scalars."""
    li = load(spark, sf_dir, "lineitem")
    base = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(-1).alias("y"),
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("x1"),
        (F.col("l_discount").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("x2"),
    )
    coef = ["c0", "c1", "c2"]

    def step(state: DataFrame) -> DataFrame:
        beta = state.select(*coef)
        j = base.crossJoin(F.broadcast(beta))
        margin = F.col("y") * (
            F.col("c0") + F.col("c1") * F.col("x1") + F.col("c2") * F.col("x2")
        )
        mis = margin <= 0
        upd = j.agg(
            F.sum(F.when(mis, F.col("y")).otherwise(0)).cast("bigint").alias("d0"),
            F.sum(F.when(mis, F.col("y") * F.col("x1")).otherwise(0))
            .cast("bigint")
            .alias("d1"),
            F.sum(F.when(mis, F.col("y") * F.col("x2")).otherwise(0))
            .cast("bigint")
            .alias("d2"),
            F.sum(mis.cast("bigint")).alias("n_mis"),
        )
        return beta.crossJoin(upd).select(
            "n_mis", *[(F.col(c) + F.col(f"d{i}")).alias(c) for i, c in enumerate(coef)]
        )

    beta0 = spark.createDataFrame([(0, 0, 0)], "c0 bigint, c1 bigint, c2 bigint")
    return round_rows(
        iterate(beta0, step, 3),
        "n_mis",
        F.col("c0").alias("beta0"),
        F.col("c1").alias("beta1"),
        F.col("c2").alias("beta2"),
    )


# --- logistic regression (batch gradient descent) -----------------------------

_LOGIT_LR0 = 2_147_483_648  # bias divisor 2^31 (per-feature lr: diag precond.)
_LOGIT_LRX = 17_592_186_044_416  # feature divisor 2^44 (cents-scaled features)


def _logit_oracle(rounds: int = 2) -> str:
    steps = [
        "b0 AS (SELECT CAST(0 AS BIGINT) AS u0, CAST(0 AS BIGINT) AS u1,"
        " CAST(0 AS BIGINT) AS u2)"
    ]
    for k in range(1, rounds + 1):
        p = f"b{k - 1}"
        steps.append(
            f"""t{k} AS (
  SELECT y, x1, x2,
         1.0e0 / (1.0e0 + EXP(-(CAST({p}.u0 + {p}.u1 * x1 + {p}.u2 * x2
                                 AS DOUBLE) * 1e-6))) AS p
  FROM base CROSS JOIN {p}),
u{k} AS (
  SELECT CAST(SUM(CASE WHEN p >= 0.5e0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pred_pos,
         CAST(FLOOR(SUM(CAST(ROUND(p - y, 9) AS DECIMAL(28,12)))
                    * 1000000) AS BIGINT) AS g0,
         CAST(FLOOR(SUM(CAST(ROUND((p - y) * CAST(x1 AS DOUBLE), 9)
                             AS DECIMAL(28,12))) * 1000000) AS BIGINT) AS g1,
         CAST(FLOOR(SUM(CAST(ROUND((p - y) * CAST(x2 AS DOUBLE), 9)
                             AS DECIMAL(28,12))) * 1000000) AS BIGINT) AS g2
  FROM t{k}),
b{k} AS (
  SELECT {p}.u0 - u{k}.g0 // {_LOGIT_LR0} AS u0,
         {p}.u1 - u{k}.g1 // {_LOGIT_LRX} AS u1,
         {p}.u2 - u{k}.g2 // {_LOGIT_LRX} AS u2
  FROM {p} CROSS JOIN u{k})"""
        )
    outs = " UNION ALL ".join(
        f"SELECT {k} AS round, u{k}.n_pred_pos, b{k}.u0 AS beta0_micro,"
        f" b{k}.u1 AS beta1_micro, b{k}.u2 AS beta2_micro"
        f" FROM u{k} CROSS JOIN b{k}"
        for k in range(1, rounds + 1)
    )
    return f"""
WITH base AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x1,
         CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x2
  FROM lineitem),
{",".join(steps)}
{outs}
"""


# Shared trained-model chain: logistic_gd and logistic_calibration train
# the IDENTICAL 2-round batch-GD model (integer micro-unit weights, exact
# decimal gradient sums). Each round is a full pass over lineitem, so
# recomputing the chain in calibration would double the training passes
# for bit-identical 1-row results — memoize the round states per session.


def _logit_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("x1"),
        (F.col("l_discount").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("x2"),
    )


def _logit_z_p(beta_joined):
    z = (
        F.col("u0") + F.col("u1") * F.col("x1") + F.col("u2") * F.col("x2")
    ).cast("double") * F.lit(1e-6)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def _logit_chain(spark: SparkSession, sf_dir: str, rounds: int) -> list:
    """The 1-row state of every training round: the round's n_pred_pos
    and the post-update micro-unit weights u0..u2."""

    def build() -> list:
        base = _logit_base(spark, sf_dir)
        dec = lambda c: F.round(c, 9).cast("decimal(28,12)")  # noqa: E731

        def step(state: DataFrame) -> DataFrame:
            beta = state.select("u0", "u1", "u2")
            j = base.crossJoin(F.broadcast(beta))
            p = _logit_z_p(j)
            upd = j.agg(
                F.sum((p >= 0.5).cast("bigint")).alias("n_pred_pos"),
                F.floor(F.sum(dec(p - F.col("y"))) * 1000000)
                .cast("bigint")
                .alias("g0"),
                F.floor(F.sum(dec((p - F.col("y")) * F.col("x1").cast("double"))) * 1000000)
                .cast("bigint")
                .alias("g1"),
                F.floor(F.sum(dec((p - F.col("y")) * F.col("x2").cast("double"))) * 1000000)
                .cast("bigint")
                .alias("g2"),
            )
            return beta.crossJoin(upd).select(
                "n_pred_pos",
                (F.col("u0") - F.expr(f"g0 DIV {_LOGIT_LR0}")).alias("u0"),
                (F.col("u1") - F.expr(f"g1 DIV {_LOGIT_LRX}")).alias("u1"),
                (F.col("u2") - F.expr(f"g2 DIV {_LOGIT_LRX}")).alias("u2"),
            )

        beta0 = spark.createDataFrame([(0, 0, 0)], "u0 bigint, u1 bigint, u2 bigint")
        return iterate(beta0, step, rounds)

    return shared(spark, sf_dir, "logit_chain", build, rounds)


@register("logistic_gd", _logit_oracle())
def q_logistic_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression trained as a Spark plan: 2 unrolled rounds of
    batch gradient descent on return-flag classification, cross-engine
    EXACT despite the transcendental sigmoid. The recipe extends the
    engine's fixed-point playbook to floating-point ML:

    * weights live as integer MICRO-units (beta = u * 1e-6), so the
      per-row logit z = (u . x) * 1e-6 is one exact int64 dot product
      and one exact int->double conversion away from identical doubles
      on every engine;
    * sigmoid terms — the only transcendental — are quantized per ROW
      (ROUND(.,9) -> DECIMAL) before summation, the bm25/token_entropy
      convention: DECIMAL sums are fold-order-free, so the gradient is
      an exact decimal both engines agree on;
    * the update is FLOOR(gradient-micro) with truncating integer
      division by per-feature powers of two (a diagonal preconditioner
      — bias and cent-scaled features need different rates), keeping
      the next round's weights integers.

    Plan per round: one map-side-combined aggregate over the base +
    broadcast 1-row weight table (scalar-broadcast idiom). At 100 TB
    each round is a single pass and the model state is 3 integers.
    Saturated sigmoids are IEEE-safe on both engines (exp overflow ->
    inf -> p -> {{0,1}}).
    The trained chain is memoized per session and shared with
    `logistic_calibration` (_logit_chain).
    """
    return round_rows(
        _logit_chain(spark, sf_dir, 2),
        "n_pred_pos",
        F.col("u0").alias("beta0_micro"),
        F.col("u1").alias("beta1_micro"),
        F.col("u2").alias("beta2_micro"),
    )


def _calibration_oracle() -> str:
    # Score with the round-2 weights from the SAME unrolled training
    # chain, then bucket predictions into deciles.
    chain = _logit_oracle(2)
    # _logit_oracle returns a full query; reuse its WITH-chain by
    # rebuilding the prefix here (same CTEs, different head).
    head = chain.split("WITH", 1)[1].rsplit("SELECT 1 AS round", 1)[0]
    head = head.rsplit("\nSELECT", 1)[0] if "\nSELECT" in head else head
    return f"""
WITH{head.rstrip().rstrip(',')}
, scored AS (
  SELECT y,
         1.0e0 / (1.0e0 + EXP(-(CAST(b2.u0 + b2.u1 * x1 + b2.u2 * x2
                                 AS DOUBLE) * 1e-6))) AS p
  FROM base CROSS JOIN b2),
bucketed AS (
  SELECT LEAST(CAST(FLOOR(p * 100000e0) AS INT), 99999) AS pbucket, y, p
  FROM scored)
SELECT pbucket,
       COUNT(*) AS n,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(SUM(CAST(ROUND(p, 9) AS DECIMAL(28,12))) AS DOUBLE) AS sum_p
FROM bucketed GROUP BY pbucket
"""


@register("logistic_calibration", _calibration_oracle())
def q_logistic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability) table for the trained logistic model:
    bucket round-2 predictions into fine probability bins (1e-5 grid —
    the sf-scaled weights spread predictions over a narrow band, so a
    decile grid collapses to one row) and report per bucket the count, positives, and exact decimal-summed predicted
    mass — the reliability diagram every scored-model pipeline emits
    (well-calibrated = n_pos/n tracks sum_p/n per bucket). Reuses the
    exact training chain of `logistic_gd` (integer micro-unit weights,
    MEMOIZED — when `logistic_gd` already trained in this session the
    two training passes are skipped and only the scoring pass runs), so
    scoring is deterministic; the decile edge test FLOOR(p*10) runs on
    identical doubles in both engines. One extra pass over the base
    beyond training."""
    base = _logit_base(spark, sf_dir)
    beta = _logit_chain(spark, sf_dir, 2)[-1].select("u0", "u1", "u2")
    j = base.crossJoin(F.broadcast(beta))
    p = _logit_z_p(j)
    pbucket = F.least(F.floor(p * 100000).cast("int"), F.lit(99999))
    return (
        j.select(F.col("y"), p.alias("p"), pbucket.alias("pbucket"))
        .groupBy("pbucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").cast("bigint").alias("n_pos"),
            F.sum(F.round(F.col("p"), 9).cast("decimal(28,12)"))
            .cast("double")
            .alias("sum_p"),
        )
    )


# --- recommender evaluation: leave-last-order-out hit rate --------------------


@register(
    "cf_holdout_hitrate",
    """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ranked AS (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
         COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders
  FROM orders),
holdout AS (
  SELECT o_custkey, o_orderkey FROM ranked WHERE rn = 1 AND n_orders >= 2),
history AS (
  SELECT r.o_custkey, li.l_partkey AS item
  FROM ranked r JOIN li ON r.o_orderkey = li.l_orderkey
  WHERE r.rn > 1 AND r.n_orders >= 2
  GROUP BY 1, 2),
pairs AS (
  SELECT x.l_partkey AS a, y.l_partkey AS b, COUNT(*) AS support
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY 1, 2),
sym_all AS (
  SELECT a AS item, b AS cand, support FROM pairs
  UNION ALL SELECT b, a, support FROM pairs),
sym AS (
  SELECT item, cand, support
  FROM (SELECT item, cand, support,
               ROW_NUMBER() OVER (PARTITION BY item
                                  ORDER BY support DESC, cand) AS nb
        FROM sym_all)
  WHERE nb <= 20),
scores AS (
  SELECT h.o_custkey, s.cand, CAST(SUM(s.support) AS BIGINT) AS score
  FROM history h JOIN sym s ON h.item = s.item
  LEFT JOIN history h2 ON h2.o_custkey = h.o_custkey AND h2.item = s.cand
  WHERE h2.item IS NULL
  GROUP BY 1, 2),
topk AS (
  SELECT o_custkey, cand
  FROM (SELECT o_custkey, cand,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY score DESC, cand) AS rk
        FROM scores)
  WHERE rk <= 10),
truth AS (
  SELECT hd.o_custkey, li.l_partkey AS item
  FROM holdout hd JOIN li ON hd.o_orderkey = li.l_orderkey
  GROUP BY 1, 2),
hits AS (
  SELECT t.o_custkey, MAX(CASE WHEN tr.item IS NOT NULL THEN 1 ELSE 0 END)
           AS hit
  FROM topk t
  LEFT JOIN truth tr ON tr.o_custkey = t.o_custkey AND tr.item = t.cand
  GROUP BY 1)
SELECT 10 AS k,
       (SELECT COUNT(*) FROM holdout) AS n_customers,
       CAST(SUM(hit) AS BIGINT) AS n_hits,
       (CAST(SUM(hit) AS BIGINT) * 1000000)
         // (SELECT COUNT(*) FROM holdout) AS hitrate_ppm
FROM hits
""",
)
def q_cf_holdout_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline recommender evaluation — the loop that decides whether the
    co-occurrence model ships: leave-LAST-order-out per customer
    (deterministic (date, orderkey) tiebreak), score candidate parts for
    each customer by summed co-purchase support against their history
    (top-20-partner truncated item neighborhoods — Sarwar et al. model
    pruning — with already-bought items excluded), take top-10 (score
    desc, part asc),
    and report hit-rate@10 — the fraction of held-out customers whose
    next basket contained a recommended part. Exact ppm ratio via
    integer division (no float rounding).

    Plan: the memoized co-purchase pair table (shared by the whole
    graph/recommender family) is the only large intermediate; the
    candidate generation joins history items against its symmetric view
    (map-side broadcast of nothing — both sides shuffle on item), and
    every window is per-customer partitioned. The split/score/top-10
    scaffolding is built once and shared with `cf_ndcg_at10`
    (`_cf_eval_frames`). Evaluation at 100 TB is the same plan with the
    pair table persisted between ingests."""
    holdout, topk_rk, truth = _cf_eval_frames(spark, sf_dir)
    topk = topk_rk.select("o_custkey", "cand")
    tr = truth.select(
        F.col("o_custkey").alias("tc"), F.col("item").alias("tcand")
    )
    hits = (
        topk.join(
            tr,
            (F.col("o_custkey") == F.col("tc")) & (F.col("cand") == F.col("tcand")),
            "left",
        )
        .groupBy("o_custkey")
        .agg(F.max(F.col("tc").isNotNull().cast("int")).alias("hit"))
    )
    n_customers = holdout.count()
    return (
        hits.agg(F.sum("hit").cast("bigint").alias("n_hits"))
        .select(
            F.lit(10).alias("k"),
            F.lit(n_customers).cast("bigint").alias("n_customers"),
            "n_hits",
            F.expr(f"(n_hits * 1000000) DIV {n_customers}").alias("hitrate_ppm"),
        )
    )


def _cf_eval_frames(spark: SparkSession, sf_dir: str):
    """Shared leave-last-order-out recommender-eval scaffolding for
    `cf_holdout_hitrate` and `cf_ndcg_at10` — the two metrics evaluate
    the SAME model on the SAME split, so the expensive part (candidate
    generation + per-customer top-10) is built once per session and
    localCheckpointed.

    Returns (holdout, topk, truth): holdout = (o_custkey, o_orderkey)
    of each held-out last order; topk = (o_custkey, cand, rk) top-10
    recommendations; truth = (o_custkey, item) held-out basket items.

    Candidate scoring anti-joins the customer's already-bought items
    AFTER the (o_custkey, cand) support aggregation, not before: the
    anti-join key IS the group key, so filtering groups is algebraically
    identical to filtering their raw rows, but the anti-join probe
    shrinks from |history x top-20 fanout| candidate rows to the
    aggregated (customer, candidate) pairs — and both sides already
    hash-partition on the same key, so no extra exchange."""
    from taxi_data_datapipeline_spark.queries_advanced import (
        _copurchase_pair_counts,
    )

    def build():
        li = (
            load(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
        )
        o = load(spark, sf_dir, "orders")
        w = Window.partitionBy("o_custkey").orderBy(
            F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
        )
        ranked = o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("o_custkey"))
            .alias("n_orders"),
        ).filter(F.col("n_orders") >= 2)
        holdout = ranked.filter(F.col("rn") == 1).select(
            "o_custkey", "o_orderkey"
        )
        history = (
            ranked.filter(F.col("rn") > 1)
            .join(li, ranked.o_orderkey == li.l_orderkey)
            .select("o_custkey", F.col("l_partkey").alias("item"))
            .distinct()
        )
        pairs = _copurchase_pair_counts(spark, sf_dir)
        sym_all = pairs.select(
            F.col("a").alias("item"), F.col("b").alias("cand"), "support"
        ).unionAll(
            pairs.select(
                F.col("b").alias("item"), F.col("a").alias("cand"), "support"
            )
        )
        # Item-neighborhood truncation (Sarwar et al. 2001 model
        # pruning): keep each item's top-20 co-purchase partners; the
        # bounded item-item matrix a production recommender serves.
        wnb = Window.partitionBy("item").orderBy(
            F.col("support").desc(), "cand"
        )
        sym = (
            sym_all.withColumn("nb", F.row_number().over(wnb))
            .filter(F.col("nb") <= 20)
            .drop("nb")
        )
        h2 = history.select(
            F.col("o_custkey").alias("c2"), F.col("item").alias("cand2")
        )
        scores = (
            history.join(sym, "item")
            .groupBy("o_custkey", "cand")
            .agg(F.sum("support").cast("bigint").alias("score"))
            .join(
                h2,
                (F.col("o_custkey") == F.col("c2"))
                & (F.col("cand") == F.col("cand2")),
                "left_anti",
            )
        )
        wk = Window.partitionBy("o_custkey").orderBy(
            F.col("score").desc(), "cand"
        )
        topk = (
            scores.withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") <= 10)
            .select("o_custkey", "cand", "rk")
        )
        truth = (
            holdout.join(li, holdout.o_orderkey == li.l_orderkey)
            .select("o_custkey", F.col("l_partkey").alias("item"))
            .distinct()
        )
        return (
            holdout.localCheckpoint(eager=True),
            topk.localCheckpoint(eager=True),
            truth.localCheckpoint(eager=True),
        )

    return shared(spark, sf_dir, "cf_eval_frames", build)


# NDCG@10 discount weights as exact integers, computed ONCE driver-side
# (floor(1e6 / log2(rank+1))) and inlined as literals into BOTH engines —
# cross-engine log() can differ in the last ulp, identical integer
# constants cannot. _NDCG_PREFIX[m] = ideal DCG units for m relevant items.
_NDCG_W = [0] + [int(1_000_000 / __import__("math").log2(r + 1)) for r in range(1, 11)]
_NDCG_PREFIX = [0]
for _w in _NDCG_W[1:]:
    _NDCG_PREFIX.append(_NDCG_PREFIX[-1] + _w)


def _ndcg_oracle() -> str:
    w_rows = ", ".join(f"({r}, {_NDCG_W[r]})" for r in range(1, 11))
    p_rows = ", ".join(f"({m}, {_NDCG_PREFIX[m]})" for m in range(1, 11))
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ranked AS (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
         COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders
  FROM orders),
holdout AS (
  SELECT o_custkey, o_orderkey FROM ranked WHERE rn = 1 AND n_orders >= 2),
history AS (
  SELECT r.o_custkey, li.l_partkey AS item
  FROM ranked r JOIN li ON r.o_orderkey = li.l_orderkey
  WHERE r.rn > 1 AND r.n_orders >= 2
  GROUP BY 1, 2),
pairs AS (
  SELECT x.l_partkey AS a, y.l_partkey AS b, COUNT(*) AS support
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY 1, 2),
sym_all AS (
  SELECT a AS item, b AS cand, support FROM pairs
  UNION ALL SELECT b, a, support FROM pairs),
sym AS (
  SELECT item, cand, support
  FROM (SELECT item, cand, support,
               ROW_NUMBER() OVER (PARTITION BY item
                                  ORDER BY support DESC, cand) AS nb
        FROM sym_all)
  WHERE nb <= 20),
scores AS (
  SELECT h.o_custkey, s.cand, CAST(SUM(s.support) AS BIGINT) AS score
  FROM history h JOIN sym s ON h.item = s.item
  LEFT JOIN history h2 ON h2.o_custkey = h.o_custkey AND h2.item = s.cand
  WHERE h2.item IS NULL
  GROUP BY 1, 2),
topk AS (
  SELECT o_custkey, cand, rk
  FROM (SELECT o_custkey, cand,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY score DESC, cand) AS rk
        FROM scores)
  WHERE rk <= 10),
truth AS (
  SELECT hd.o_custkey, li.l_partkey AS item
  FROM holdout hd JOIN li ON hd.o_orderkey = li.l_orderkey
  GROUP BY 1, 2),
wtab(rk, w) AS (VALUES {w_rows}),
ptab(m, idcg) AS (VALUES {p_rows}),
dcg AS (
  SELECT t.o_custkey,
         CAST(SUM(CASE WHEN tr.item IS NOT NULL THEN w.w ELSE 0 END)
              AS BIGINT) AS dcg_units
  FROM topk t
  JOIN wtab w ON w.rk = t.rk
  LEFT JOIN truth tr ON tr.o_custkey = t.o_custkey AND tr.item = t.cand
  GROUP BY 1),
ideal AS (
  SELECT o_custkey, p.idcg AS idcg_units
  FROM (SELECT o_custkey,
               CASE WHEN COUNT(*) > 10 THEN 10 ELSE COUNT(*) END AS m
        FROM truth GROUP BY 1) tm
  JOIN ptab p ON p.m = tm.m),
per_cust AS (
  SELECT i.o_custkey,
         CAST(ROUND(COALESCE(d.dcg_units, 0) * 1.0 / i.idcg_units, 6)
              AS DECIMAL(12,6)) AS ndcg
  FROM ideal i LEFT JOIN dcg d ON d.o_custkey = i.o_custkey)
SELECT 10 AS k,
       COUNT(*) AS n_customers,
       CAST(SUM(CASE WHEN ndcg = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_perfect,
       CAST(SUM(CASE WHEN ndcg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       ROUND(CAST(SUM(ndcg) AS DOUBLE) / COUNT(*), 6) AS mean_ndcg
FROM per_cust
"""


@register("cf_ndcg_at10", _ndcg_oracle())
def q_cf_ndcg_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 for the co-purchase recommender — the rank-sensitive
    companion to `cf_holdout_hitrate` (same leave-last-order-out split,
    same top-20-neighborhood model, same top-10 lists): a hit at rank 1
    is worth more than a hit at rank 10, so this is the metric that
    catches a model whose hits all land at the list's tail.

    Determinism: the 1/log2(rank+1) discounts are precomputed ONCE
    driver-side as exact integer micro-units and inlined as literals
    into both engines — DCG/IDCG are then exact integer sums, each
    per-customer NDCG is one double division rounded to 6 and summed as
    DECIMAL (order-independent), so the engines agree bit-for-bit
    without trusting two log() implementations to round identically.

    Plan shape identical to the hitrate query (shared memoized
    `_cf_eval_frames` scaffolding — split, scores, top-10 built once for
    both metrics); the extra work here is two broadcast joins against
    10-row literal tables."""
    _holdout, topk, truth = _cf_eval_frames(spark, sf_dir)
    wtab = spark.createDataFrame(
        [(r, _NDCG_W[r]) for r in range(1, 11)], "rk int, w bigint"
    )
    ptab = spark.createDataFrame(
        [(m, _NDCG_PREFIX[m]) for m in range(1, 11)], "m int, idcg bigint"
    )
    tr = truth.select(
        F.col("o_custkey").alias("tc"), F.col("item").alias("tcand")
    )
    dcg = (
        topk.join(F.broadcast(wtab), "rk")
        .join(
            tr,
            (F.col("o_custkey") == F.col("tc")) & (F.col("cand") == F.col("tcand")),
            "left",
        )
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(F.col("tc").isNotNull(), F.col("w")).otherwise(0))
            .cast("bigint")
            .alias("dcg_units")
        )
    )
    ideal = (
        truth.groupBy("o_custkey")
        .agg(F.least(F.count(F.lit(1)), F.lit(10)).cast("int").alias("m"))
        .join(F.broadcast(ptab), "m")
        .select("o_custkey", F.col("idcg").alias("idcg_units"))
    )
    per_cust = ideal.join(dcg, "o_custkey", "left").select(
        F.round(
            F.coalesce(F.col("dcg_units"), F.lit(0)) / F.col("idcg_units"), 6
        )
        .cast("decimal(12,6)")
        .alias("ndcg")
    )
    return per_cust.agg(
        F.lit(10).alias("k"),
        F.count(F.lit(1)).alias("n_customers"),
        F.sum((F.col("ndcg") == 1).cast("int")).cast("bigint").alias("n_perfect"),
        F.sum((F.col("ndcg") == 0).cast("int")).cast("bigint").alias("n_zero"),
        F.round(
            F.sum("ndcg").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_ndcg"),
    )


@register(
    "weighted_median_price",
    """
WITH s AS (
  SELECT l_returnflag AS returnflag, l_extendedprice AS v,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2),
t AS (SELECT returnflag, CAST(SUM(w) AS BIGINT) AS total_weight
      FROM s GROUP BY 1),
c AS (SELECT returnflag, v,
             CAST(SUM(w) OVER (PARTITION BY returnflag ORDER BY v)
                  AS BIGINT) AS f
      FROM s)
SELECT c.returnflag, t.total_weight,
       MIN(CASE WHEN c.f >= (t.total_weight + 1) // 2 THEN c.v END)
         AS w_median
FROM c JOIN t ON c.returnflag = t.returnflag
GROUP BY c.returnflag, t.total_weight
""",
)
def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group WEIGHTED median: the price at which half the
    quantity-weighted mass sits at or below (lower weighted median,
    threshold ceil(W/2) in integer arithmetic). The missing sibling of
    percentile_prices (unweighted) and trimmed_mean_prices.

    Scale shape: weights collapse to one row per DISTINCT (group, price)
    first (map-side partial agg), then the per-group bucketed two-phase
    cumulation (operators/cumulative.grouped_cumulative_counts) produces
    the weighted CDF with no partition ever holding more than one bucket
    of one group — the oracle states the same thing as the plain
    per-group window cumsum. Selection is a conditional MIN over the
    cumulative frame, not an argmin pass."""
    from taxi_data_datapipeline_spark.operators.cumulative import (
        grouped_cumulative_counts,
    )

    li = load(spark, sf_dir, "lineitem")
    s = (
        li.groupBy(
            F.col("l_returnflag").alias("grp"),
            F.col("l_extendedprice").alias("value"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("c1"))
    )
    cum = grouped_cumulative_counts(s)
    tot = s.groupBy("grp").agg(F.sum("c1").alias("total_weight"))
    return (
        cum.join(F.broadcast(tot), "grp")
        .groupBy(F.col("grp").alias("returnflag"), F.col("total_weight"))
        .agg(
            F.min(
                F.when(
                    F.col("f1") >= F.expr("(total_weight + 1) DIV 2"),
                    F.col("value"),
                )
            ).alias("w_median")
        )
        .select("returnflag", "total_weight", "w_median")
    )


# --- KMV (k-minimum-values) distinct sketch with set operations --------------
#
# The HLL entries estimate |A| but cannot intersect; the KMV / theta-sketch
# family (Bar-Yossef et al. 2002; Dasgupta et al., the DataSketches theta
# sketch) keeps the k SMALLEST hash values of a set, and those k values
# support union (merge-and-trim), intersection (membership of the union's
# k-mins in both input sketches), and cardinality ((k-1)/u_k). State is k
# 8-byte values regardless of input size; merges are associative — the
# shape that rolls up distinct-with-intersection across 1000 executors.

_KMV_K = 256
_KMV_DEN = float(1 << 60)  # hash domain: 15 md5 hex chars = 60 bits


@register(
    "kmv_set_sketch",
    f"""
WITH ah AS (
  SELECT DISTINCT CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))
                       AS BIGINT) AS h
  FROM lineitem WHERE l_returnflag = 'R'),
bh AS (
  SELECT DISTINCT CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))
                       AS BIGINT) AS h
  FROM lineitem WHERE l_returnflag = 'A'),
sa AS (SELECT h FROM ah ORDER BY h LIMIT {_KMV_K}),
sb AS (SELECT h FROM bh ORDER BY h LIMIT {_KMV_K}),
su AS (
  SELECT h FROM (SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb))
  ORDER BY h LIMIT {_KMV_K}),
rho AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS rho FROM su
  WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)),
mx AS (
  SELECT (SELECT MAX(h) FROM sa) AS max_a,
         (SELECT MAX(h) FROM sb) AS max_b,
         (SELECT MAX(h) FROM su) AS max_u),
exact AS (
  SELECT COUNT(DISTINCT l_orderkey) FILTER (l_returnflag = 'R') AS exact_a,
         COUNT(DISTINCT l_orderkey) FILTER (l_returnflag = 'A') AS exact_b,
         COUNT(DISTINCT l_orderkey) FILTER (l_returnflag IN ('R', 'A')) AS exact_union
  FROM lineitem)
SELECT {_KMV_K} AS k,
       CAST({_KMV_K - 1} AS DOUBLE) * {_KMV_DEN!r} / CAST(mx.max_a AS DOUBLE) AS est_a,
       CAST({_KMV_K - 1} AS DOUBLE) * {_KMV_DEN!r} / CAST(mx.max_b AS DOUBLE) AS est_b,
       CAST({_KMV_K - 1} AS DOUBLE) * {_KMV_DEN!r} / CAST(mx.max_u AS DOUBLE) AS est_union,
       CAST(rho.rho AS DOUBLE) / {float(_KMV_K)!r} AS est_jaccard,
       (CAST(rho.rho AS DOUBLE) / {float(_KMV_K)!r})
         * (CAST({_KMV_K - 1} AS DOUBLE) * {_KMV_DEN!r} / CAST(mx.max_u AS DOUBLE))
         AS est_intersect,
       CAST(exact.exact_a AS BIGINT) AS exact_a,
       CAST(exact.exact_b AS BIGINT) AS exact_b,
       CAST(exact.exact_union AS BIGINT) AS exact_union,
       CAST(exact.exact_a + exact.exact_b - exact.exact_union AS BIGINT)
         AS exact_intersect
FROM rho, mx, exact
""",
)
def q_kmv_set_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct sketches over two order-key sets (returnflag R vs A):
    per-set k-minimum hash values, merged to a union sketch, with
    cardinality, Jaccard, and INTERSECTION estimates next to the exact
    answers. Every union-sketch value that belongs to A is necessarily
    within A's k smallest (the union's k-th min <= A's k-th min), so
    membership tests run against the k-sized sketches — never the data.

    Derandomized: the hash is md5 -> 60-bit integer, identical in DuckDB,
    so estimates value-hash-match bit-for-bit. Scale shape: the only
    corpus-sized work is a map-side-combined distinct on the 8-byte hash
    column followed by TakeOrdered(k) (per-partition top-k, k*partitions
    rows to the driver-side merge); everything downstream is k-row
    frames. Estimate quality is pinned by the unit test (rel. error
    within ~4/sqrt(k) of exact on all four set measures)."""
    li = load(spark, sf_dir, "lineitem")

    def kmins(flag: str) -> DataFrame:
        h = F.conv(
            F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 15), 16, 10
        ).cast("long")
        return (
            li.filter(F.col("l_returnflag") == flag)
            .select(h.alias("h"))
            .distinct()
            .orderBy("h")
            .limit(_KMV_K)
        )

    sa, sb = kmins("R"), kmins("A")
    su = sa.unionAll(sb).distinct().orderBy("h").limit(_KMV_K)
    rho = (
        su.join(sa, "h", "left_semi")
        .join(sb, "h", "left_semi")
        .agg(F.count(F.lit(1)).alias("rho"))
    )
    mx = (
        sa.agg(F.max("h").alias("max_a"))
        .crossJoin(sb.agg(F.max("h").alias("max_b")))
        .crossJoin(su.agg(F.max("h").alias("max_u")))
    )
    exact = li.filter(F.col("l_returnflag").isin("R", "A")).agg(
        F.count_distinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_orderkey"))
        ).alias("exact_a"),
        F.count_distinct(
            F.when(F.col("l_returnflag") == "A", F.col("l_orderkey"))
        ).alias("exact_b"),
        F.count_distinct("l_orderkey").alias("exact_union"),
    )

    def est(maxcol: str):
        return (
            F.lit(float(_KMV_K - 1)) * F.lit(_KMV_DEN)
            / F.col(maxcol).cast("double")
        )

    jac = F.col("rho").cast("double") / F.lit(float(_KMV_K))
    return (
        rho.crossJoin(mx)
        .crossJoin(exact)
        .select(
            F.lit(_KMV_K).alias("k"),
            est("max_a").alias("est_a"),
            est("max_b").alias("est_b"),
            est("max_u").alias("est_union"),
            jac.alias("est_jaccard"),
            (jac * est("max_u")).alias("est_intersect"),
            F.col("exact_a").cast("long").alias("exact_a"),
            F.col("exact_b").cast("long").alias("exact_b"),
            F.col("exact_union").cast("long").alias("exact_union"),
            (F.col("exact_a") + F.col("exact_b") - F.col("exact_union"))
            .cast("long")
            .alias("exact_intersect"),
        )
    )


# --- Approximate query processing (BlinkDB-style sampled aggregates) ---------


@register(
    "aqp_group_revenue",
    """
WITH base AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(('0x' || substring(
             md5(CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)),
             1, 8)) AS BIGINT) % 10 AS coin
  FROM lineitem),
samp AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n_sample,
         SUM(cents) AS s,
         SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS ssq
  FROM base WHERE coin = 3 GROUP BY l_returnflag),
exact AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n_exact,
         CAST(SUM(cents) AS DOUBLE) / 100.0 AS exact_revenue
  FROM base GROUP BY l_returnflag)
SELECT s.l_returnflag,
       s.n_sample, e.n_exact,
       CAST(s.s AS DOUBLE) * 10.0 / 100.0 AS est_revenue,
       sqrt(90.0 * CAST(s.ssq AS DOUBLE)) / 100.0 AS se_revenue,
       e.exact_revenue
FROM samp s JOIN exact e ON s.l_returnflag = e.l_returnflag
""",
)
def q_aqp_group_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing over a deterministic 10% row sample
    (BlinkDB / AQUA lineage): per-group revenue estimated from the
    sample with a Horvitz-Thompson inverse-probability weight (x10) and
    a standard error from the Bernoulli-sampling variance
    Var = ((1-p)/p^2) * sum(x_i^2), next to the exact answer.

    The sampling coin is md5 of the row's natural key — deterministic,
    engine-portable, and stable under repartitioning (unlike
    TABLESAMPLE / sample(), which are per-partition-seeded) — so the
    entire estimate INCLUDING the error bar value-hash-matches DuckDB.
    Scale shape: the sample filter is map-side (evaluated in the scan
    stage, 90% of rows never reach the aggregate); at 100 TB this is
    the interactive tier — a 10x cheaper scan for a ~3-sigma-bounded
    answer, with the exact branch here only to exhibit the error."""
    li = load(spark, sf_dir, "lineitem")
    key = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit(":"),
        F.col("l_linenumber").cast("string"),
    )
    base = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        (
            F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % 10
        ).alias("coin"),
    )
    samp = (
        base.filter(F.col("coin") == 3)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_sample"),
            F.sum("cents").alias("s"),
            F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
                "ssq"
            ),
        )
    )
    exact = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_exact"),
        (F.sum("cents").cast("double") / F.lit(100.0)).alias("exact_revenue"),
    )
    return samp.join(exact, "l_returnflag").select(
        "l_returnflag",
        "n_sample",
        "n_exact",
        (F.col("s").cast("double") * F.lit(10.0) / F.lit(100.0)).alias(
            "est_revenue"
        ),
        (
            F.sqrt(F.lit(90.0) * F.col("ssq").cast("double")) / F.lit(100.0)
        ).alias("se_revenue"),
        "exact_revenue",
    )


# --- point-in-polygon (ray casting, engine-exact arithmetic) ------------------

_PIP_VERTS = [
    (-74.9, 40.15),
    (-73.3, 40.25),
    (-74.1, 40.55),
    (-73.6, 40.95),
    (-74.95, 40.85),
]
_PIP_EDGES = [
    (x1, y1, x2, y2)
    for (x1, y1), (x2, y2) in zip(_PIP_VERTS, _PIP_VERTS[1:] + _PIP_VERTS[:1])
]


def _pip_edges_sql() -> str:
    rows = ", ".join(f"({x1!r}, {y1!r}, {x2!r}, {y2!r})" for x1, y1, x2, y2 in _PIP_EDGES)
    return f"(VALUES {rows}) AS e(x1, y1, x2, y2)"


@register(
    "point_in_polygon",
    f"""
WITH pts AS (
  SELECT value, COUNT(*) AS n,
         CAST(value * 0.01 + 40.0 AS DOUBLE) AS lat,
         CAST(value * -0.02 - 73.0 AS DOUBLE) AS lon
  FROM events GROUP BY value
),
cross_tests AS (
  SELECT p.value, p.n,
         CASE WHEN ((e.y1 > p.lat) <> (e.y2 > p.lat))
               AND p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1
              THEN 1 ELSE 0 END AS crossed
  FROM pts p, {_pip_edges_sql()}
),
verdict AS (
  SELECT value, n, SUM(crossed) % 2 = 1 AS inside
  FROM cross_tests GROUP BY value, n
)
SELECT inside,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(n) AS BIGINT) AS n_events,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM verdict GROUP BY inside
""",
)
def q_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon containment by ray casting (crossing-number),
    against a non-convex pentagon: for each distinct point, count the
    polygon edges a horizontal ray crosses; odd = inside. The edge test
    is four arithmetic ops and two comparisons on IEEE doubles built
    from the same literals in both engines, so even this geometric
    predicate value-hash-matches — no geo library, no epsilon.

    Scale shape: points dedupe first (grid-bounded, not event-bounded),
    then join a BROADCAST 5-row edge table — the crossing counts are a
    map-side expand of x5 followed by one bounded aggregation. A real
    polygon layer (thousands of fences) would first block points and
    polygon bounding boxes to the same grid cells (`geo_radius_nn`'s
    cell join), then run this exact predicate per candidate pair."""
    ev = load(spark, sf_dir, "events")
    pts = (
        ev.groupBy("value")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "value",
            "n",
            (F.col("value") * 0.01 + 40.0).alias("lat"),
            (F.col("value") * -0.02 - 73.0).alias("lon"),
        )
    )
    edges = spark.createDataFrame(
        _PIP_EDGES, "x1 double, y1 double, x2 double, y2 double"
    )
    crossed = (
        pts.crossJoin(F.broadcast(edges))
        .select(
            "value",
            "n",
            F.when(
                ((F.col("y1") > F.col("lat")) != (F.col("y2") > F.col("lat")))
                & (
                    F.col("lon")
                    < (F.col("x2") - F.col("x1"))
                    * (F.col("lat") - F.col("y1"))
                    / (F.col("y2") - F.col("y1"))
                    + F.col("x1")
                ),
                1,
            )
            .otherwise(0)
            .alias("crossed"),
        )
    )
    verdict = crossed.groupBy("value", "n").agg(
        (F.sum("crossed") % 2 == 1).alias("inside")
    )
    return verdict.groupBy("inside").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("n").cast("long").alias("n_events"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


@register(
    "grouped_histogram_quantiles",
    """
WITH c AS (
  SELECT l_returnflag AS grp,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
),
bounds AS (
  SELECT grp, MIN(cents) AS mn, MAX(cents) - MIN(cents) + 1 AS span,
         COUNT(*) AS n
  FROM c GROUP BY grp
),
hist AS (
  SELECT c.grp, ((c.cents - b.mn) * 256) // b.span AS bucket, COUNT(*) AS cnt
  FROM c JOIN bounds b ON c.grp = b.grp
  GROUP BY 1, 2
),
cum AS (
  SELECT grp, bucket, cnt,
         SUM(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
         SUM(cnt) OVER (PARTITION BY grp ORDER BY bucket) - cnt AS cum_before
  FROM hist
),
qs AS (SELECT UNNEST([0.5, 0.95]) AS q),
targets AS (
  SELECT b.grp, qs.q, CAST(ceil(qs.q * b.n) AS BIGINT) AS target, b.mn, b.span
  FROM qs, bounds b
),
chosen AS (
  SELECT t.grp, t.q, t.target, t.mn, t.span, MIN(c.bucket) AS bucket
  FROM targets t JOIN cum c ON c.grp = t.grp AND c.cum >= t.target
  GROUP BY t.grp, t.q, t.target, t.mn, t.span
)
SELECT ch.grp AS returnflag, ch.q,
       ch.target AS target_rank,
       ch.bucket,
       (CAST(ch.mn AS DOUBLE)
        + CAST(ch.bucket AS DOUBLE) * (CAST(ch.span AS DOUBLE) / 256.0)
        + (CAST(ch.target - c.cum_before AS DOUBLE) / CAST(c.cnt AS DOUBLE))
          * (CAST(ch.span AS DOUBLE) / 256.0)) / 100.0 AS estimate
FROM chosen ch JOIN cum c ON c.grp = ch.grp AND c.bucket = ch.bucket
""",
)
def q_grouped_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP mergeable histogram quantiles — the production shape of
    `histogram_quantile_estimate` (p50/p95 per tenant/flag/day): each
    group gets its own min/max-anchored 256-bucket integer-cent
    histogram, built in one pass with map-side combine, so the shuffle
    carries <=256 rows per group per partition no matter how many rows
    feed it and no group ever sorts its values. Windows partition BY
    GROUP (bounded per-partition work — the audit-clean form of the
    cumulative scan); interpolation arithmetic is the shared expression
    tree, so estimates value-hash across engines."""
    li = load(spark, sf_dir, "lineitem")
    c = li.select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    bounds = c.groupBy("grp").agg(
        F.min("cents").alias("mn"),
        (F.max("cents") - F.min("cents") + 1).alias("span"),
        F.count(F.lit(1)).alias("n"),
    )
    hist = (
        c.join(F.broadcast(bounds), "grp")
        .select("grp", F.expr("((cents - mn) * 256) DIV span").alias("bucket"))
        .groupBy("grp", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("grp").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.select(
        "grp",
        "bucket",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        (F.sum("cnt").over(w) - F.col("cnt")).alias("cum_before"),
    )
    targets = bounds.select(
        "grp",
        F.explode(F.array(F.lit(0.5), F.lit(0.95))).alias("q"),
        "n",
        "mn",
        "span",
    ).select(
        "grp",
        "q",
        F.ceil(F.col("q") * F.col("n")).cast("long").alias("target"),
        "mn",
        "span",
    )
    # min_by carries the chosen bucket's (cnt, cum_before) through the
    # same aggregate — one cum consumer, no join-back (buckets unique per
    # (grp, bucket), so the interpolation inputs are bit-identical).
    chosen = (
        F.broadcast(targets)
        .join(cum,
              (targets["grp"] == cum["grp"]) & (F.col("cum") >= F.col("target")))
        .drop(cum["grp"])
        .groupBy("grp", "q", "target", "mn", "span")
        .agg(
            F.min("bucket").alias("bucket"),
            F.min_by(F.struct("cnt", "cum_before"), "bucket").alias("cc"),
        )
    )
    width = F.col("span").cast("double") / F.lit(256.0)
    est_cents = (
        F.col("mn").cast("double")
        + F.col("bucket").cast("double") * width
        + (
            (F.col("target") - F.col("cc.cum_before")).cast("double")
            / F.col("cc.cnt").cast("double")
        )
        * width
    )
    return chosen.select(
        F.col("grp").alias("returnflag"),
        "q",
        F.col("target").alias("target_rank"),
        "bucket",
        (est_cents / F.lit(100.0)).alias("estimate"),
    )


# --- CUSUM changepoint on the daily revenue series ----------------------------


@register(
    "cusum_changepoint",
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
st AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS total
  FROM daily GROUP BY 1),
pre AS (
  SELECT event_type, day,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t,
         CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT)
           AS prefix
  FROM daily),
s AS (
  SELECT p.event_type, p.day, p.t, p.prefix, st.n, st.total,
         st.n * p.prefix - p.t * st.total AS su
  FROM pre p JOIN st USING (event_type)
  WHERE p.t < st.n),
cp AS (
  SELECT event_type, day, t, prefix, n, total, su,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ABS(su) DESC, day) AS rk
  FROM s)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days,
       day AS cp_day,
       CAST(ABS(su) AS BIGINT) AS cusum_units,
       ROUND(CAST(prefix AS DOUBLE) / t / 100, 6) AS mean_before,
       ROUND(CAST(total - prefix AS DOUBLE) / (n - t) / 100, 6) AS mean_after
FROM cp WHERE rk = 1
""",
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection (Page '54) on each event type's daily
    revenue series: the maximum absolute mean-centered cumulative sum
    marks the most likely level-shift day — the monitoring primitive
    behind "did this metric step-change, and when" alerts. Reports the
    changepoint day plus the before/after means the shift separates.

    Determinism: the centered cumulative sum is scaled by n to stay in
    exact integers (S'_t = n*prefix_t - t*total, integer cents — no
    mean subtraction in floats), the argmax tie-breaks on earliest day,
    and the last point (where S' is identically 0) is excluded so the
    changepoint is always a proper split. The two reported means are
    single double-division chains rounded once.

    Scale shape: day-level rollup is the only data-sized shuffle; the
    window and argmax run on the DAYS-bounded per-type series."""
    ev = load(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.sum(cents).cast("bigint").alias("y")
    )
    st = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("total"),
    )
    wday = Window.partitionBy("event_type").orderBy("day")
    pre = daily.select(
        "event_type",
        "day",
        F.row_number().over(wday).alias("t"),
        F.sum("y").over(wday).cast("bigint").alias("prefix"),
    )
    s = (
        pre.join(F.broadcast(st), "event_type")
        .filter(F.col("t") < F.col("n"))
        .withColumn("su", F.col("n") * F.col("prefix") - F.col("t") * F.col("total"))
    )
    wrk = Window.partitionBy("event_type").orderBy(F.abs(F.col("su")).desc(), "day")
    return (
        s.withColumn("rk", F.row_number().over(wrk))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.col("day").alias("cp_day"),
            F.abs(F.col("su")).cast("bigint").alias("cusum_units"),
            F.round(F.col("prefix").cast("double") / F.col("t") / 100, 6).alias(
                "mean_before"
            ),
            F.round(
                (F.col("total") - F.col("prefix")).cast("double")
                / (F.col("n") - F.col("t"))
                / 100,
                6,
            ).alias("mean_after"),
        )
    )


# --- Benjamini-Hochberg multiple-testing on per-type trend sign tests ---------


_BH_MAX_N = 60  # binomial-tail table bound; daily series here are ~30 points
_POW2_60 = 1 << 60


def _binom_tails() -> list:
    """(n, kmin, tail) rows with tail = sum_{k>=kmin} C(n,k), for
    kmin in [n//2, n] — the only range a two-sided sign test ever looks
    up (K = max(s, n-s) >= ceil(n/2)). Exact integers, max tail < 2^60.
    Computed ONCE driver-side and inlined into BOTH engines: exact
    binomial tail p-values with no factorials, no floats, and no
    cross-engine combinatorics."""
    import math as _m

    rows = []
    for n in range(1, _BH_MAX_N + 1):
        tail = 0
        for k in range(n, n // 2 - 1, -1):
            tail += _m.comb(n, k)
            rows.append((n, k, tail))
    return rows


def _bh_sign_oracle() -> str:
    t_rows = ", ".join(f"({n}, {k}, {t})" for n, k, t in _binom_tails())
    return f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
dd AS (
  SELECT event_type, y,
         LAG(y) OVER (PARTITION BY event_type ORDER BY day) AS prev
  FROM daily),
per_type AS (
  SELECT event_type,
         CAST(COUNT(*) FILTER (WHERE y <> prev) AS BIGINT) AS n,
         CAST(COUNT(*) FILTER (WHERE y > prev) AS BIGINT) AS s
  FROM dd WHERE prev IS NOT NULL GROUP BY 1),
tails(n, kmin, tail) AS (VALUES {t_rows}),
scored AS (
  SELECT p.event_type, p.n, p.s,
         LEAST(2 * t.tail, 1 << p.n) AS p_units,
         1 << p.n AS pow2n,
         LEAST(2 * t.tail, 1 << p.n) * (1 << (60 - p.n)) AS sortkey
  FROM per_type p
  JOIN tails t ON t.n = p.n AND t.kmin = GREATEST(p.s, p.n - p.s)
  WHERE p.n >= 1 AND p.n <= {_BH_MAX_N}),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY sortkey, event_type) AS i,
         COUNT(*) OVER () AS m
  FROM scored),
flagged AS (
  SELECT *,
         CASE WHEN CAST(sortkey AS HUGEINT) * 20 * m
                   <= CAST(i AS HUGEINT) * CAST({_POW2_60} AS HUGEINT)
              THEN i END AS pass_i
  FROM ranked),
cut AS (SELECT *, MAX(pass_i) OVER () AS cutoff FROM flagged)
SELECT event_type,
       CAST(n AS BIGINT) AS n_pairs,
       CAST(s AS BIGINT) AS n_up,
       ROUND(CAST(p_units AS DOUBLE) / CAST(pow2n AS DOUBLE), 6) AS p_value,
       CAST(i AS BIGINT) AS bh_rank,
       CAST(CASE WHEN cutoff IS NOT NULL AND i <= cutoff
                 THEN 1 ELSE 0 END AS INT) AS reject
FROM cut
"""


@register("bh_sign_trend", _bh_sign_oracle())
def q_bh_sign_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type day-over-day trend sign tests with
    Benjamini-Hochberg FDR correction (BH '95) — the multiple-testing
    discipline a metrics platform needs the moment it monitors MANY
    series at once: each type's up-vs-down day count gets an EXACT
    two-sided binomial sign-test p-value, and the step-up procedure
    rejects the largest prefix of the p-sorted list with
    p_(i) <= i*alpha/m (alpha = 0.05).

    Determinism end-to-end: p-values are exact dyadic rationals
    2*tail(n, max(s, n-s)) / 2^n built from the inlined integer
    binomial-tail table (no factorials or floats in either engine);
    the BH sort key rescales every p to the common 2^-60 grid with
    EXACT bit-shifts (p_units << (60-n), always < 2^61); and the
    step-up comparison runs in 128-bit-safe integer arithmetic
    (HUGEINT / DECIMAL(38,0)). The only doubles are the reported
    p-value rendering, one division rounded once.

    Scale shape: the day rollup is the lone data-sized shuffle; the
    test statistics, join against the literal tail table, and the BH
    window all run on the TYPES-bounded frame (explicitly .limit()
    bounded below the global window)."""
    ev = load(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.sum(cents).cast("bigint").alias("y")
    )
    wday = Window.partitionBy("event_type").orderBy("day")
    dd = daily.select(
        "event_type", "y", F.lag("y").over(wday).alias("prev")
    ).filter(F.col("prev").isNotNull())
    per_type = dd.groupBy("event_type").agg(
        F.sum((F.col("y") != F.col("prev")).cast("bigint")).alias("n"),
        F.sum((F.col("y") > F.col("prev")).cast("bigint")).alias("s"),
    )
    tails = spark.createDataFrame(
        _binom_tails(), "tn bigint, kmin bigint, tail bigint"
    )
    pow2n = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(n AS INT))")
    scored = (
        per_type.filter((F.col("n") >= 1) & (F.col("n") <= _BH_MAX_N))
        .join(
            F.broadcast(tails),
            (F.col("n") == F.col("tn"))
            & (F.col("kmin") == F.greatest(F.col("s"), F.col("n") - F.col("s"))),
        )
        .select(
            "event_type",
            "n",
            "s",
            F.least(2 * F.col("tail"), pow2n).alias("p_units"),
            pow2n.alias("pow2n"),
        )
        .withColumn(
            "sortkey",
            F.col("p_units")
            * F.expr("shiftleft(CAST(1 AS BIGINT), CAST(60 - n AS INT))"),
        )
        .limit(100000)  # types-bounded frame; explicit bound below the window
    )
    wall = Window.orderBy("sortkey", "event_type")
    ranked = scored.select(
        "*",
        F.row_number().over(wall).alias("i"),
        F.count(F.lit(1)).over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("m"),
    )
    flag = (
        F.col("sortkey").cast("decimal(38,0)") * 20 * F.col("m")
        <= F.col("i").cast("decimal(38,0)") * F.lit(_POW2_60).cast("decimal(38,0)")
    )
    flagged = ranked.withColumn("pass_i", F.when(flag, F.col("i")))
    cut = flagged.withColumn(
        "cutoff",
        F.max("pass_i").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    return cut.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_pairs"),
        F.col("s").cast("bigint").alias("n_up"),
        F.round(
            F.col("p_units").cast("double") / F.col("pow2n").cast("double"), 6
        ).alias("p_value"),
        F.col("i").cast("bigint").alias("bh_rank"),
        F.when(
            F.col("cutoff").isNotNull() & (F.col("i") <= F.col("cutoff")), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("reject"),
    )
