"""Path helpers — ports the reference's tested behaviors
(test_pivot_date_location_hour.py:75-99,161-182) to the new module."""

from __future__ import annotations

import pytest

from taxi_data_datapipeline_spark.sources.paths import (
    discover_parquet_files,
    infer_month_from_path,
    infer_taxi_type_from_path,
    is_s3_path,
    parse_size,
)


def test_taxi_type_from_filename():
    assert infer_taxi_type_from_path("yellow_tripdata_2023-01.parquet") == "yellow"
    assert infer_taxi_type_from_path("/data/green_tripdata_2020-06.parquet") == "green"
    assert infer_taxi_type_from_path("s3://b/fhv_tripdata_2019-12.parquet") == "fhv"
    assert infer_taxi_type_from_path("random_file.parquet") == "unknown"


def test_month_from_filename():
    assert infer_month_from_path("yellow_tripdata_2023-01.parquet") == (2023, 1)
    assert infer_month_from_path("green_tripdata_2020_6.parquet") == (2020, 6)
    assert infer_month_from_path("a/b/fhv_tripdata_2019-12.parquet") == (2019, 12)


def test_month_from_hive_path():
    assert infer_month_from_path("bucket/year=2022/month=6/data.parquet") == (2022, 6)
    # hive dirs win over tokens elsewhere in the path
    assert infer_month_from_path("x_2001-01/year=2022/month=6/d.parquet") == (2022, 6)


def test_month_not_inferable():
    assert infer_month_from_path("random_file.parquet") is None
    assert infer_month_from_path("data_2023-13.parquet") is None  # bad month


def test_is_s3_path():
    assert is_s3_path("s3://bucket/key")
    assert is_s3_path("S3://bucket/key")
    assert is_s3_path("s3a://bucket/key")
    assert not is_s3_path("/local/dir")
    assert not is_s3_path("file:///x")


def test_parse_size():
    assert parse_size("200MB") == 200 * 1024**2
    assert parse_size("1GB") == 1024**3
    assert parse_size("1.5GB") == int(1.5 * 1024**3)
    assert parse_size("500K") == 500 * 1024
    assert parse_size("1024") == 1024
    assert parse_size(4096) == 4096
    with pytest.raises(ValueError):
        parse_size("bogus")


def test_discover_parquet_files(tmp_path):
    (tmp_path / "sub").mkdir()
    # A Spark-written dataset: a directory named like a file, holding parts.
    (tmp_path / "d.parquet").mkdir()
    for name in ["b.parquet", "a.parquet", "sub/c.parquet", "notes.txt",
                 "d.parquet/part-00000.parquet", "d.parquet/_SUCCESS"]:
        (tmp_path / name).write_bytes(b"")
    found = discover_parquet_files(str(tmp_path))
    assert [f.rsplit("/", 1)[-1] for f in found] == [
        "a.parquet", "b.parquet", "part-00000.parquet", "c.parquet"]
    single = discover_parquet_files(str(tmp_path / "a.parquet"))
    assert len(single) == 1
