"""Edge-case semantics of the session-3 operators (TWAP exclusions,
equi-depth bucketing, trimmed-mean clipping, dup-ngram fraction)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F


def test_twap_excludes_zero_and_last_segments(spark):
    # user 1: values 10 (held 10s), 20 (held 30s), 30 (last, no weight)
    # user 2: single event -> no interval at all
    # user 3: two simultaneous events then one later: the zero-length
    #         segment drops, the surviving segment weights value 5
    rows = [
        (1, 1, datetime(2024, 1, 1, 0, 0, 0), 10.0),
        (2, 1, datetime(2024, 1, 1, 0, 0, 10), 20.0),
        (3, 1, datetime(2024, 1, 1, 0, 0, 40), 30.0),
        (4, 2, datetime(2024, 1, 1, 0, 0, 0), 99.0),
        (5, 3, datetime(2024, 1, 1, 0, 0, 0), 5.0),
        (6, 3, datetime(2024, 1, 1, 0, 0, 0), 7.0),
        (7, 3, datetime(2024, 1, 1, 0, 1, 0), 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = df.select(
        "user_id",
        F.floor(F.col("value") * F.lit(1e6)).alias("vunits"),
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))).alias(
            "dur_us"
        ),
    ).filter(F.col("dur_us").isNotNull() & (F.col("dur_us") > 0))
    out = {
        r.user_id: r
        for r in seg.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.round(
                F.sum(F.col("vunits") * F.expr("dur_us div 1000")).cast("double")
                / (F.lit(1e3) * F.sum("dur_us")),
                6,
            ).alias("twap"),
        )
        .collect()
    }
    assert 2 not in out  # single event: no holding interval
    assert out[1].n_intervals == 2
    assert out[1].twap == round((10 * 10 + 20 * 30) / 40, 6)
    # user 3: zero-length segment dropped; event 6 (later event_id at the
    # same ts) holds until the next event
    assert out[3].n_intervals == 1
    assert out[3].twap == 7.0


def test_equidepth_bucket_fold_is_monotone(spark):
    df = spark.createDataFrame([(i,) for i in range(1, 101)], "n_chars long")
    fracs = [i / 10 for i in range(1, 10)]
    edges = df.agg(
        F.percentile("n_chars", F.array(*[F.lit(p) for p in fracs])).alias("es")
    )
    bucket = F.lit(1) + F.aggregate(
        F.col("es"),
        F.lit(0),
        lambda acc, e: acc + F.when(F.col("n_chars") > e, 1).otherwise(0),
    )
    out = (
        df.join(F.broadcast(edges))
        .select("n_chars", bucket.alias("b"))
        .groupBy("b")
        .count()
        .collect()
    )
    counts = {r.b: r["count"] for r in out}
    assert set(counts) == set(range(1, 11))  # all 10 deciles present
    assert all(8 <= c <= 12 for c in counts.values())  # near-equal depth


def test_trimmed_mean_clips_symmetric_tails(spark):
    # 1..100 cents-scale values: 5% trims exactly the tails
    df = spark.createDataFrame(
        [(float(i), "A") for i in range(1, 101)],
        "l_extendedprice double, l_returnflag string",
    )
    edges = df.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.05)).alias("lo"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("hi"),
    )
    j = df.join(F.broadcast(edges), "l_returnflag")
    out = (
        j.select(
            (F.col("l_extendedprice") < F.col("lo")).alias("lo_"),
            (F.col("l_extendedprice") > F.col("hi")).alias("hi_"),
        )
        .agg(
            F.count_if(F.col("lo_")).alias("nl"),
            F.count_if(F.col("hi_")).alias("nh"),
        )
        .collect()[0]
    )
    # p05 = 5.95, p95 = 95.05 under (n-1)p interpolation -> 5 clipped each
    assert out.nl == 5 and out.nh == 5


def test_ngram_dup_fraction_flags_shared_shingles(spark):
    from taxi_data_datapipeline_spark.functions.text import ngram_shingles
    from pyspark.sql import Window

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown cat sits"),
            (3, "completely unrelated text here"),
        ],
        "doc_id long, text string",
    )
    g = docs.select("doc_id", F.explode(ngram_shingles("text")).alias("gram"))
    nd = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    out = {
        r.doc_id: r
        for r in g.select("doc_id", nd.alias("nd"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("n_dup"),
        )
        .collect()
    }
    # docs 1 and 2 share exactly the shingle "the quick brown"
    assert out[1].n_dup == 1 and out[2].n_dup == 1
    assert out[3].n_dup == 0
