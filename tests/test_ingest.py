"""Ingest layer: heterogeneous trip files -> canonical trips DataFrame.

Exercises the four FIXTURES.md §1 schema variants (modern yellow, green,
old lat/lon with string datetimes, fhv with epoch ints) end to end through
normalize_trips + hourly_pivot.
"""

from __future__ import annotations

import datetime
import glob
import os
import shutil

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F
from pyspark.sql import types as T

from taxi_data_datapipeline_spark.functions.timestamps import coerce_timestamp
from taxi_data_datapipeline_spark.operators.pivot import hourly_pivot
from taxi_data_datapipeline_spark.queries import _NANOS_TS_COLS, clear_memos, load, nanos_ts
from taxi_data_datapipeline_spark.sources.ingest import footer_schema, normalize_trips, sql_string
from taxi_data_datapipeline_spark.sources.paths import infer_month_from_path


@pytest.fixture(scope="module")
def trip_files(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("trips")
    d = datetime.datetime(2023, 1, 5, 7, 30)

    yellow = spark.createDataFrame(
        [(d, 132, 12.5), (d.replace(hour=8), 132, 7.0), (None, 4, 1.0)],
        "tpep_pickup_datetime timestamp, PULocationID int, fare_amount double",
    )
    yellow_path = str(base / "yellow_tripdata_2023-01.parquet")
    yellow.coalesce(1).write.parquet(yellow_path)

    green = spark.createDataFrame(
        [(d.replace(day=6), 7)],
        "lpep_pickup_datetime timestamp, pickup_location_id bigint",
    )
    green_path = str(base / "green_tripdata_2023-01.parquet")
    green.coalesce(1).write.parquet(green_path)

    old = spark.createDataFrame(
        [("2009-03-02 07:15:00", 40.7216, -73.9934), ("garbage", 40.0, -73.0)],
        "Trip_Pickup_DateTime string, Start_Lat double, Start_Lon double",
    )
    old_path = str(base / "yellow_tripdata_2009-03.parquet")
    old.coalesce(1).write.parquet(old_path)

    epoch_ms = int(d.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000)
    fhv = spark.createDataFrame(
        [(epoch_ms, "Z1"), (epoch_ms // 1000, "Z1")],  # one ms value, one s value
        "request_datetime long, pu_zone string",
    )
    fhv_path = str(base / "fhv_tripdata_2023-01.parquet")
    fhv.coalesce(1).write.parquet(fhv_path)

    junk = spark.createDataFrame([(1, "x")], "a int, b string")
    junk_path = str(base / "random_file.parquet")
    junk.coalesce(1).write.parquet(junk_path)

    return [yellow_path, green_path, old_path, fhv_path, junk_path]


def test_normalize_trips_union(spark, trip_files):
    trips, report = normalize_trips(spark, trip_files)
    assert trips.columns == [
        "pickup_datetime", "pickup_place", "taxi_type", "file_year", "file_month",
    ]
    assert len(report.skipped) == 1 and "random_file" in report.skipped[0]
    rows = trips.collect()
    assert len(rows) == 8  # nulls kept here; dropped by the pivot stage

    by_type = {}
    for r in rows:
        by_type.setdefault(r["taxi_type"], []).append(r)
    assert len(by_type["yellow"]) == 5  # 3 modern (incl null ts) + 2 old latlon
    assert len(by_type["green"]) == 1
    assert len(by_type["fhv"]) == 2

    green = by_type["green"][0]
    assert green["pickup_place"] == "7" and green["file_month"] == 1

    # lat/lon grid key with round(…,3) string formatting
    places = {r["pickup_place"] for r in by_type["yellow"]}
    assert "40.722_-73.993" in places

    # epoch ms and epoch s coerce to the same instant
    fhv_ts = {r["pickup_datetime"] for r in by_type["fhv"]}
    assert len(fhv_ts) == 1 and list(fhv_ts)[0] == datetime.datetime(2023, 1, 5, 7, 30)

    # string datetime parse: good one parses, garbage -> NULL
    old = [r for r in by_type["yellow"] if r["file_month"] == 3]
    parsed = {r["pickup_datetime"] for r in old}
    assert datetime.datetime(2009, 3, 2, 7, 15) in parsed and None in parsed


def test_end_to_end_pivot_over_ingest(spark, trip_files):
    trips, _ = normalize_trips(spark, trip_files)
    wide = hourly_pivot(trips, min_rides=1)
    got = {(r["taxi_type"], r["pickup_place"]): r for r in wide.collect()}
    assert got[("yellow", "132")]["hour_7"] == 1
    assert got[("yellow", "132")]["hour_8"] == 1
    assert got[("fhv", "Z1")]["hour_7"] == 2


def test_month_follows_each_rows_input_path(spark, tmp_path):
    """One scan spans a schema era's months, so each row takes its
    file_year/file_month from the input path that named its file: a
    monthly file, or a dataset directory whose part file names another
    month. The lookup must match Spark's spelling of that path (``file:/``
    with a percent-encoded space), not ``inputFiles()``'s (``file:///``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = tmp_path / "taxi trips"
    base.mkdir()
    files = []
    for month in (1, 2, 3, 4):
        path = base / f"yellow_tripdata_2023-{month:02d}.parquet"
        files.append(str(path))
        if month == 4:
            path.mkdir()
            path = path / "part-00000-2023-09.parquet"
        pq.write_table(
            pa.table({
                "tpep_pickup_datetime": pa.array(
                    [datetime.datetime(2023, month, 5)] * month, pa.timestamp("us")),
                "PULocationID": pa.array([month] * month, pa.int32()),
            }),
            str(path),
        )

    trips, _ = normalize_trips(spark, files)
    plan = trips._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    rows = trips.collect()
    assert len(rows) == 10
    for r in rows:
        path = files[int(r["pickup_place"]) - 1]
        assert (r["file_year"], r["file_month"]) == infer_month_from_path(path)


def test_month_lookup_quotes_each_path(spark, tmp_path):
    """Each path is spliced into the lookup's SQL text as a string literal:
    under a directory named with a quote, a backslash and glob
    metacharacters, every row still takes its own file's month."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = tmp_path / "it's a \\ [dir]"
    base.mkdir()
    files = []
    for month in (1, 2):
        path = str(base / f"yellow_tripdata_2023-{month:02d}.parquet")
        files.append(path)
        pq.write_table(
            pa.table({
                "tpep_pickup_datetime": pa.array(
                    [datetime.datetime(2023, month, 5)] * month, pa.timestamp("us")),
                "PULocationID": pa.array([month] * month, pa.int32()),
            }),
            path,
        )

    trips, report = normalize_trips(spark, files)
    assert set(report.resolved) == set(files)
    rows = trips.collect()
    assert len(rows) == 3
    for r in rows:
        path = files[int(r["pickup_place"]) - 1]
        assert (r["file_year"], r["file_month"]) == infer_month_from_path(path)


def test_sql_string_round_trips(spark):
    """The SQL parser reads back exactly the text sql_string quoted."""
    values = ["'", "\\", "\\u0041", "%", "naïve 東京", "it's a \\ dir\\'", ""]
    row = spark.sql("SELECT " + ", ".join(sql_string(v) for v in values)).first()
    assert list(row) == values


def test_coerce_timestamp_type_dispatch(spark):
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [("2023-01-05 07:30:00", 1672904700, 1672904700000)],
        "s string, es long, ems long",
    )
    out = df.select(
        coerce_timestamp(F.col("s"), T.StringType()).alias("from_str"),
        coerce_timestamp(F.col("es"), T.LongType()).alias("from_s"),
        coerce_timestamp(F.col("ems"), T.LongType()).alias("from_ms"),
    ).collect()[0]
    expect = datetime.datetime(2023, 1, 5, 7, 45)
    assert out["from_str"] == datetime.datetime(2023, 1, 5, 7, 30)
    assert out["from_s"] == out["from_ms"]


def test_pipeline_ingests_pandas_default_nanos_file(spark, tmp_path):
    """pandas/pyarrow write TIMESTAMP(NANOS) by default; the ingest layer
    must resolve the footer (nanosAsLong) and the magnitude ladder in
    coerce_timestamp must land the values on the right microseconds —
    not smear them through a double division or reject the file."""
    import numpy as np
    import pandas as pd

    from taxi_data_datapipeline_spark.sources.ingest import normalize_trips

    n = 200
    base_ns = 1_704_067_200_000_000_000  # 2024-01-01 UTC
    steps = (np.arange(n) * 37_123_456_789) % (28 * 86400 * 10**9)
    pdf = pd.DataFrame(
        {
            "tpep_pickup_datetime": pd.to_datetime(base_ns + steps),
            "PULocationID": (np.arange(n) * 7) % 26,
        }
    )
    f = str(tmp_path / "yellow_tripdata_2024-01.parquet")
    pdf.to_parquet(f, index=False)  # nanos, on purpose

    trips, report = normalize_trips(spark, [f])
    assert report.skipped == []
    rows = trips.collect()
    assert len(rows) == n
    got = sorted(r["pickup_datetime"] for r in rows)
    want = sorted(
        pd.to_datetime(base_ns + steps).floor("us").tz_localize("UTC").to_pydatetime()
    )
    assert [g.replace(tzinfo=None) for g in got] == [
        w.replace(tzinfo=None) for w in want
    ]
    assert rows[0]["taxi_type"] == "yellow"


def test_epoch_magnitude_ladder_all_units(spark):
    """coerce_timestamp must land ns/us/ms/s epoch integers on the same
    instant (truncated to the unit's precision) — one Spark job over a
    random sample spanning 1990..2100."""
    import random
    from datetime import datetime, timezone

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from taxi_data_datapipeline_spark.functions.timestamps import coerce_timestamp

    rnd = random.Random(11)
    # The unit bands are disambiguated by magnitude; seconds are only
    # unambiguous below the ms threshold (2.6e9 ~ year 2052, the
    # documented envelope in functions/timestamps.py).
    secs = [rnd.randrange(631_152_000, 2_599_999_999) for _ in range(200)]
    rows = [(s, s * 10**3, s * 10**6, s * 10**9) for s in secs]
    df = spark.createDataFrame(rows, "s long, ms long, us long, ns long")
    out = df.select(
        *[
            coerce_timestamp(F.col(c), T.LongType()).alias(c)
            for c in ("s", "ms", "us", "ns")
        ]
    ).collect()
    for r, s in zip(out, secs):
        want = datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)
        for c in ("s", "ms", "us", "ns"):
            assert r[c] == want, (c, s, r[c], want)


def test_sniff_fallback_reads_footer_hostile_file(spark, tmp_path):
    """Reference pivot_all_files.py:196-202 analog: a file whose footer
    Spark's inference REJECTS (case-duplicate column names ->
    COLUMN_ALREADY_EXISTS) but whose canonical columns are perfectly
    readable. The pyarrow footer resolves it, and the scan declares only
    the detected columns, so Spark never infers the file's schema; the
    skip list stays empty."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "yellow_tripdata_2023-02.parquet")
    tbl = pa.table(
        {
            "tpep_pickup_datetime": pa.array(
                [1_675_240_200_000_000] * 3, pa.timestamp("us")
            ),
            "PULocationID": pa.array([132, 132, 7], pa.int64()),
            # the footer breakers: names differing only by case
            "Extra": pa.array([1, 2, 3], pa.int64()),
            "extra": pa.array([4, 5, 6], pa.int64()),
        }
    )
    pq.write_table(tbl, p)

    # precondition: plain Spark inference really does fail on this file
    with pytest.raises(Exception):
        spark.read.parquet(p).schema  # noqa: B018

    df, report = normalize_trips(spark, [p])
    assert report.skipped == []
    assert p in report.resolved
    rows = df.collect()
    assert len(rows) == 3
    assert {r.pickup_place for r in rows} == {"132", "7"}
    assert all(r.taxi_type == "yellow" for r in rows)
    assert all(r.pickup_datetime is not None for r in rows)


def test_sniff_fallback_reads_footer_hostile_int96_file(spark, tmp_path):
    """A footer-hostile file whose timestamps are INT96 (Spark/Hive/Impala
    legacy) reads as timestamp[ns] in arrow, like a TIMESTAMP(NANOS) column,
    but Spark reads INT96 only as a timestamp. The footer reader surfaces
    it as timestamp[us] and the scan declares it as a timestamp, so the
    file is read (not failed, not skipped) and its instants round-trip."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    micros = [1_675_240_200_000_000, 1_675_243_800_000_000, 1_675_247_400_000_000]
    p = str(tmp_path / "yellow_tripdata_2023-02.parquet")
    tbl = pa.table(
        {
            "tpep_pickup_datetime": pa.array(micros, pa.timestamp("us")),
            "PULocationID": pa.array([132, 132, 7], pa.int64()),
            "Extra": pa.array([1, 2, 3], pa.int64()),
            "extra": pa.array([4, 5, 6], pa.int64()),
        }
    )
    pq.write_table(tbl, p, use_deprecated_int96_timestamps=True)
    assert pq.ParquetFile(p).schema.column(0).physical_type == "INT96"
    with pytest.raises(Exception):
        spark.read.parquet(p).schema  # noqa: B018

    df, report = normalize_trips(spark, [p])
    assert report.skipped == []
    got = df.select(F.unix_micros("pickup_datetime").alias("us"), "pickup_place")
    assert sorted((r.us, r.pickup_place) for r in got.collect()) == sorted(
        zip(micros, ["132", "132", "7"])
    )


def test_sniff_fallback_groups_by_full_declared_schema(spark, tmp_path):
    """Two footer-hostile files whose DETECTED columns and datetime type
    match but whose location column differs physically (int64 vs string)
    must not share one declared-schema scan — last-writer-wins on the
    group's declared schema would misread or fail the other file. The
    group key includes every pruned field's type, so each file scans
    with its own declared schema and both normalize correctly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write_hostile(path, loc_array):
        pq.write_table(
            pa.table(
                {
                    "tpep_pickup_datetime": pa.array(
                        [1_675_240_200_000_000] * 2, pa.timestamp("us")
                    ),
                    "PULocationID": loc_array,
                    "Extra": pa.array([1, 2], pa.int64()),
                    "extra": pa.array([3, 4], pa.int64()),
                }
            ),
            path,
        )

    p_int = str(tmp_path / "yellow_tripdata_2023-02.parquet")
    p_str = str(tmp_path / "yellow_tripdata_2023-02b.parquet")
    write_hostile(p_int, pa.array([132, 7], pa.int64()))
    write_hostile(p_str, pa.array(["214", "88"], pa.string()))

    df, report = normalize_trips(spark, [p_int, p_str])
    assert report.skipped == []
    assert set(report.resolved) == {p_int, p_str}
    rows = df.collect()
    assert len(rows) == 4
    assert {r.pickup_place for r in rows} == {"132", "7", "214", "88"}


_MICROS = [1_675_240_200_000_000, 1_675_243_800_000_000, 1_675_247_400_000_000]


def _write_typed_case(spark, path, case):
    """One three-row yellow file whose datetime or location column has a
    type the footer-to-Spark mapping handles by hand. Returns the expected
    pickup_place values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = pa.array(_MICROS, pa.timestamp("us", tz="UTC"))
    if case == "int96_spark":
        ids = [132, 132, 7]
        rows = [(datetime.datetime.fromtimestamp(m / 1e6, datetime.timezone.utc), i)
                for m, i in zip(_MICROS, ids)]
        spark.createDataFrame(
            rows, "tpep_pickup_datetime timestamp, PULocationID int"
        ).coalesce(1).write.parquet(path)
        part = next(f for f in os.listdir(path) if f.endswith(".parquet"))
        # precondition: Spark's default timestamp output really is INT96
        assert pq.ParquetFile(os.path.join(path, part)).schema.column(0).physical_type == "INT96"
        return ids
    if case == "timestamp_us_ntz":
        ts, ids = pa.array(_MICROS, pa.timestamp("us")), pa.array([132, 132, 7], pa.int64())
    elif case == "dictionary":
        ids = pa.array(["132", "132", "7"]).dictionary_encode()
    else:  # unsigned location ids, up to the type's maximum
        width = {"uint8": 8, "uint32": 32, "uint64": 64}[case]
        ids = pa.array([132, 2**width - 1, 7], getattr(pa, case)())
    pq.write_table(pa.table({"tpep_pickup_datetime": ts, "PULocationID": ids}), path)
    return ids.to_pylist()


@pytest.mark.parametrize(
    "case, place_type",
    [
        ("uint8", T.ShortType()),
        ("uint32", T.LongType()),
        ("uint64", T.DecimalType(20, 0)),
        ("timestamp_us_ntz", T.LongType()),
        ("int96_spark", T.IntegerType()),
        ("dictionary", T.StringType()),
    ],
)
def test_footer_types_resolve_like_spark_inference(spark, tmp_path, case, place_type):
    """Each file resolves, and keeps the location id type Spark's own
    parquet reader gives it (unsigned ints widen to the next signed type,
    uint64 to decimal(20,0)), with every instant intact."""
    p = str(tmp_path / "yellow_tripdata_2023-02.parquet")
    ids = _write_typed_case(spark, p, case)

    df, report = normalize_trips(spark, [p], typed_place=True)
    assert report.skipped == [] and p in report.resolved
    assert df.schema["pickup_place"].dataType == place_type
    got = df.select(F.unix_micros("pickup_datetime").alias("us"), "pickup_place")
    assert sorted((r.us, str(r.pickup_place)) for r in got.collect()) == sorted(
        zip(_MICROS, map(str, ids))
    )


def test_load_declares_the_inferred_schema_without_a_job(spark, tmp_path):
    """load() declares each table's schema from its parquet footer: the
    scan starts no Spark job, and the schema is the one Spark's own
    inference gives (TIMESTAMP_NTZ for tz-naive timestamps included).
    The tables are copied so that no memoized scan answers the call."""
    sf_dir = str(tmp_path)
    for p in glob.glob(f"{SF_SMOKE}/*.parquet"):
        shutil.copy(p, sf_dir)
    tables = sorted(os.path.basename(p)[: -len(".parquet")]
                    for p in glob.glob(f"{sf_dir}/*.parquet"))
    assert tables
    sc = spark.sparkContext

    def jobs() -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    try:
        for table in tables:
            path = f"{sf_dir}/{table}.parquet"
            before = jobs()
            loaded = load(spark, sf_dir, table)
            assert jobs() == before, table
            inferred = spark.read.parquet(path)
            assert footer_schema(path) == inferred.schema, table
            for c in _NANOS_TS_COLS.get(table, []):
                inferred = nanos_ts(inferred, c)
            assert loaded.schema == inferred.schema, table
    finally:
        clear_memos(sf_dir)
