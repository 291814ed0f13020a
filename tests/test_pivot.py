"""Pivot + low-count filter — ports reference pivot tests
(test_pivot_date_location_hour.py:105-155) to the Spark operator."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from taxi_data_datapipeline_spark.operators.pivot import (
    HOUR_COLUMNS,
    cleanup_low_count_rows,
    hourly_pivot,
    pivot_counts,
)


def _trips(spark, rows):
    return spark.createDataFrame(
        rows, "pickup_datetime timestamp, pickup_place string, taxi_type string"
    )


def test_pivot_shape_and_buckets(spark):
    d = datetime.datetime(2023, 1, 5)
    rows = [
        (d.replace(hour=7), "100", "yellow"),
        (d.replace(hour=7), "100", "yellow"),
        (d.replace(hour=23), "100", "yellow"),
        (d.replace(hour=0), "200", "green"),
    ]
    wide = hourly_pivot(_trips(spark, rows), min_rides=0)
    assert wide.columns == ["taxi_type", "date", "pickup_place"] + HOUR_COLUMNS
    got = {(r["taxi_type"], r["pickup_place"]): r for r in wide.collect()}
    y = got[("yellow", "100")]
    assert y["hour_7"] == 2 and y["hour_23"] == 1 and y["hour_0"] == 0
    g = got[("green", "200")]
    assert g["hour_0"] == 1 and sum(g[c] for c in HOUR_COLUMNS) == 1


def test_pivot_empty_input_column_contract(spark):
    wide = hourly_pivot(_trips(spark, []), min_rides=0)
    assert wide.columns == ["taxi_type", "date", "pickup_place"] + HOUR_COLUMNS
    assert wide.count() == 0


def test_null_datetimes_dropped(spark):
    rows = [(None, "100", "yellow"), (datetime.datetime(2023, 1, 5, 7), "100", "yellow")]
    wide = hourly_pivot(_trips(spark, rows), min_rides=0)
    rs = wide.collect()
    assert len(rs) == 1 and rs[0]["hour_7"] == 1


def test_min_rides_filter(spark):
    d = datetime.datetime(2023, 1, 5)
    rows = [(d.replace(hour=h % 24), "busy", "yellow") for h in range(60)]
    rows += [(d.replace(hour=1), "quiet", "yellow")]
    wide = hourly_pivot(_trips(spark, rows), min_rides=50)
    places = [r["pickup_place"] for r in wide.collect()]
    assert places == ["busy"]


def test_cleanup_low_count_rows_stats(spark):
    d = datetime.date(2023, 1, 5)
    wide_rows = [
        ("yellow", d, "a", *([3] * 24)),  # total 72 -> kept
        ("yellow", d, "b", *([1] * 24)),  # total 24 -> dropped
    ]
    schema = "taxi_type string, date date, pickup_place string, " + ", ".join(
        f"{c} long" for c in HOUR_COLUMNS
    )
    wide = spark.createDataFrame(wide_rows, schema)
    kept, stats = cleanup_low_count_rows(wide, min_rides=50)
    assert [r["pickup_place"] for r in kept.collect()] == ["a"]
    srow = wide.agg(*stats.values()).collect()[0]
    assert srow["kept"] == 1 and srow["dropped"] == 1


def test_pivot_counts_generic_domain(spark):
    df = spark.createDataFrame(
        [("x", 1), ("x", 1), ("x", 3), ("y", 2)], "k string, b int"
    )
    wide = pivot_counts(df, ["k"], "b", [1, 2, 3], prefix="b_")
    assert wide.columns == ["k", "b_1", "b_2", "b_3"]
    got = {r["k"]: r for r in wide.collect()}
    assert got["x"]["b_1"] == 2 and got["x"]["b_2"] == 0 and got["x"]["b_3"] == 1
    assert got["y"]["b_2"] == 1


def test_pivot_counts_quotes_identifiers(spark):
    """Each aggregate and the HAVING total are SQL text: a bucket column and
    a prefix that need backticks (a space, a backtick) still name the right
    columns."""
    bucket = "hour `of` day"
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField(bucket, T.IntegerType())]
    )
    df = spark.createDataFrame([("x", 1), ("x", 1), ("x", 2), ("y", 2)], schema)
    wide = pivot_counts(df, ["k"], bucket, [1, 2], prefix="n `h` ", min_total=2)
    assert wide.columns == ["k", "n `h` 1", "n `h` 2"]
    assert [tuple(r) for r in wide.collect()] == [("x", 2, 1)]
