"""Ingest: heterogeneous trip parquet -> one canonical trips DataFrame.

Canonical trip schema (reference ``pivot_all_files.py:47-51``):

    pickup_datetime timestamp, pickup_place string, taxi_type string,
    plus path-derived audit columns file_year / file_month (nullable ints).

Strategy (SURVEY §1.3): read each file's parquet *footer* schema driver-side
(cheap, metadata only), resolve it with the fuzzy detector, group files whose
resolution is identical, build ONE ``spark.read.schema(...).parquet(*group)``
scan per group with a plain ``select`` projection, and ``unionByName`` the
groups. Catalyst prunes each scan to exactly the projected columns and pushes
the null filter down; the union is a no-shuffle narrow op.

Each footer is read ONCE per pass, with Spark's own inference: the group scan
declares the detected columns' types from that footer instead of inferring
the group again, and ``IngestReport.footers`` hands the same schemas to the
pipeline's advisory schema check.

This scales: for N files the driver does N footer reads (parallelizable, and
identical-schema files collapse into one scan), while data never leaves the
executors.
"""

from __future__ import annotations

from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from taxi_data_datapipeline_spark.functions.keys import latlon_place_key, place_key
from taxi_data_datapipeline_spark.functions.timestamps import coerce_timestamp
from taxi_data_datapipeline_spark.session import ensure_nanos_as_long
from taxi_data_datapipeline_spark.sources.paths import (
    infer_month_from_path,
    infer_taxi_type_from_path,
)
from taxi_data_datapipeline_spark.sources.schema_detect import TripSchema, resolve_trip_schema

CANONICAL_COLUMNS = ["pickup_datetime", "pickup_place", "taxi_type", "file_year", "file_month"]


@dataclass
class IngestReport:
    """Files that resolved vs were skipped (no detectable datetime column),
    and every input file's footer schema as Spark inferred it (None where
    inference failed)."""

    resolved: dict[str, TripSchema]
    skipped: list[str]
    footers: dict[str, StructType | None]


def _footer_schema(spark: SparkSession, path: str) -> StructType:
    # Footer-only read: Spark resolves the schema without scanning data pages.
    # nanosAsLong lets TIMESTAMP(NANOS) files (pandas/pyarrow default) resolve
    # as bigint instead of failing analysis; coerce_timestamp's magnitude
    # ladder then restores them to microsecond timestamps.
    ensure_nanos_as_long(spark)
    return spark.read.parquet(path).schema


def read_footers(spark: SparkSession, files: list[str]) -> dict[str, StructType | None]:
    """Every file's footer schema, None where Spark cannot infer one.

    Footer reads are metadata-only but latency-bound (one round-trip per
    file — significant against S3 with 10^4-10^5 files). They are
    independent, so fetch them on a driver-side thread pool. A file whose
    footer cannot be read (corrupt, truncated, not parquet, or rejected by
    Spark's inference) maps to None, not a crash — reference behavior
    ``pivot_all_files.py:204-216``."""

    def safe_footer(f: str) -> StructType | None:
        try:
            return _footer_schema(spark, f)
        except Exception:
            return None

    with ThreadPoolExecutor(max_workers=min(16, max(1, len(files)))) as pool:
        return dict(zip(files, pool.map(safe_footer, files)))


def _sniff_first_batch(path: str):
    """First-batch schema sniff — the reference's fallback when footer-only
    detection fails (``pivot_all_files.py:196-202``): open the file with the
    SECONDARY reader (pyarrow) and read one <=1000-row batch; its schema
    feeds the same duck-typed detector. Catches files Spark's inference
    rejects but whose needed columns are perfectly readable — e.g. a footer
    with case-duplicate column names (COLUMN_ALREADY_EXISTS) or an exotic
    unrelated column. Returns the arrow schema, or None."""
    try:
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(path)
        batch = next(pf.iter_batches(batch_size=1000))
        return batch.schema
    except Exception:
        return None


def _detected_columns(ts: TripSchema) -> list[str]:
    return [c for c in (ts.datetime_col, ts.location_col, ts.lat_col, ts.lon_col) if c]


def _pruned(footer: StructType, ts: TripSchema) -> StructType:
    """The footer schema cut down to the detected columns: what a group scan
    declares, so Spark does not infer the group's schema a second time."""
    return StructType([footer[c] for c in _detected_columns(ts)])


def _declared_schema_for(path: str, arrow_schema, ts: TripSchema) -> StructType:
    """Build a PRUNED declared Spark schema covering only the detected
    columns, so the scan never touches whatever column broke inference
    (landmine: a declared schema also survives footers Spark cannot infer
    from). ns timestamps are declared as LongType to match the session's
    nanosAsLong read path; coerce_timestamp's magnitude ladder restores
    them. INT96 columns (Spark/Hive/Impala legacy timestamps) also read as
    timestamp[ns] in arrow, but Spark reads them as TimestampType only, so
    the parquet physical type decides."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql.types import LongType, StructField, TimestampType

    physical = pq.ParquetFile(path).schema
    int96 = {physical.column(i).path for i in range(len(physical))
             if physical.column(i).physical_type == "INT96"}
    fields = []
    for name in _detected_columns(ts):
        at = arrow_schema.field(name).type
        if name in int96:
            st = TimestampType()
        elif pa.types.is_timestamp(at) and at.unit == "ns":
            st = LongType()
        else:
            st = from_arrow_type(at)
        fields.append(StructField(name, st))
    return StructType(fields)


def normalize_trips(
    spark: SparkSession,
    files: list[str],
    taxi_types: dict[str, str] | None = None,
    typed_place: bool = False,
) -> tuple[DataFrame, IngestReport]:
    """Resolve every file's schema and return one canonical trips DataFrame.

    ``taxi_types`` optionally overrides the per-file path inference.
    Files with no detectable datetime column are skipped (reported, not
    fatal) — reference behavior ``pivot_all_files.py:204-216``.

    ``typed_place=True`` keeps location-id place keys in their NATIVE
    numeric type instead of the canonical string: hashing/comparing a
    fixed-width int in the pivot's aggregation key measures ~2.5x faster
    than the stringified form, and the pivot stringifies AFTER the
    aggregate (per output row, not per input row) so the output contract
    is unchanged. When resolved files mix location-id and lat/lon place
    modes the column falls back to string for union compatibility —
    identical values either way, the type is purely an aggregation-key
    representation choice.
    """
    resolved: dict[str, TripSchema] = {}
    skipped: list[str] = []
    groups: dict[tuple, list[str]] = defaultdict(list)

    footers = read_footers(spark, files)
    for f in files:
        footer = footers[f]
        if footer is None:
            # Footer-only resolution failed: reference fallback — sniff the
            # first <=1000-row batch with the secondary reader and, if the
            # canonical columns detect, scan with a PRUNED declared schema
            # (only the detected columns, so the scan never touches the
            # column that broke inference).
            arrow_schema = _sniff_first_batch(f)
            ts = resolve_trip_schema(arrow_schema) if arrow_schema is not None else None
            if ts is not None:
                try:
                    decl = _declared_schema_for(f, arrow_schema, ts)
                except Exception:
                    ts = None
        else:
            ts = resolve_trip_schema(footer)
            if ts is not None:
                decl = _pruned(footer, ts)
        if ts is None:
            skipped.append(f)
            continue
        resolved[f] = ts
        ttype = (taxi_types or {}).get(f) or infer_taxi_type_from_path(f)
        ym = infer_month_from_path(f)
        # Files sharing (projection recipe, taxi type, year-month, declared
        # schema) share a scan. The declared schema carries every detected
        # column's type, so two files whose detected columns match but whose
        # physical types differ (int64 vs string location ids, say) never
        # share one scan that would misread or fail the other file.
        groups[(ts, ttype, ym, decl)].append(f)

    typed_ok = typed_place and all(
        ts.place_mode == "location" for (ts, *_rest) in groups
    )
    parts: list[DataFrame] = []
    for (ts, ttype, ym, decl), group_files in groups.items():
        raw = spark.read.schema(decl).parquet(*group_files)
        dt_type = decl[ts.datetime_col].dataType
        if ts.place_mode == "location":
            loc = F.col(ts.location_col)
            place = loc if typed_ok else place_key(loc)
        elif ts.place_mode == "latlon":
            place = latlon_place_key(F.col(ts.lat_col), F.col(ts.lon_col))
        else:
            place = F.lit("")
        year, month = (ym if ym is not None else (None, None))
        parts.append(
            raw.select(
                coerce_timestamp(F.col(ts.datetime_col), dt_type).alias("pickup_datetime"),
                place.alias("pickup_place"),
                F.lit(ttype).alias("taxi_type"),
                F.lit(year).cast("int").alias("file_year"),
                F.lit(month).cast("int").alias("file_month"),
            )
        )

    if not parts:
        empty = spark.createDataFrame(
            [],
            "pickup_datetime timestamp, pickup_place string, taxi_type string, "
            "file_year int, file_month int",
        )
        return empty, IngestReport(resolved, skipped, footers)

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out, IngestReport(resolved, skipped, footers)
