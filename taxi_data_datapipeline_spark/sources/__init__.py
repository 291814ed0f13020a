"""Sources: dataset discovery, path metadata, schema detection, ingest."""

from taxi_data_datapipeline_spark.sources.paths import (
    discover_parquet_files,
    infer_month_from_path,
    infer_taxi_type_from_path,
    is_s3_path,
    parse_size,
)
from taxi_data_datapipeline_spark.sources.schema_detect import (
    find_pickup_datetime_col,
    find_pickup_lat_lon_cols,
    find_pickup_location_col,
    resolve_trip_schema,
)

__all__ = [
    "discover_parquet_files",
    "infer_month_from_path",
    "infer_taxi_type_from_path",
    "is_s3_path",
    "parse_size",
    "find_pickup_datetime_col",
    "find_pickup_lat_lon_cols",
    "find_pickup_location_col",
    "resolve_trip_schema",
]
