"""Ingest: heterogeneous trip parquet -> one canonical trips DataFrame.

Canonical trip schema (reference ``pivot_all_files.py:47-51``):

    pickup_datetime timestamp, pickup_place string, taxi_type string,
    plus path-derived audit columns file_year / file_month (nullable ints).

Strategy (SURVEY §1.3): read each file's parquet *footer* schema driver-side
(cheap, metadata only), resolve it with the fuzzy detector, group files that
share a resolution, taxi type and declared schema (one group per schema era
and taxi type), build ONE ``spark.read.schema(...).parquet(*group)`` scan
per group with a plain ``select`` projection, and ``unionByName`` the
groups. Catalyst prunes each scan to exactly the projected columns and
pushes the null filter down; the union is a no-shuffle narrow op, and
Spark packs a group's small files into shared splits.

Each footer is read ONCE per pass, driver-side with pyarrow and no Spark
job: the group scan declares the detected columns' types from that footer,
so Spark neither infers the file's schema nor touches any other column, and
``IngestReport.footers`` hands the same schemas to the pipeline's advisory
schema check.

Path metadata is parsed driver-side once per file (``sources.paths``). The
taxi type is a per-group literal. A group spans months, so each row takes
its year-month from ONE lookup of its file's ``_metadata.file_path`` in a
literal (path hash) -> ``year*100 + month`` map, built from the group scan's
own file list (``inputFiles()``, driver-side). A group whose input paths
number more than ``spark.sql.sources.parallelPartitionDiscovery.threshold``
(32) is listed by one parallel Spark job when its scan is built.

Expressions are SQL text (``F.expr``) parsed once in the JVM: each
``Column``-API call costs several Py4J round trips (built call by call, the
lookup took most of 10 k at 443 files). Paths and labels spliced into SQL go
through ``sql_string``.
"""

from __future__ import annotations

import os
import re
from collections import defaultdict
from dataclasses import dataclass
from pathlib import PurePosixPath
from urllib.parse import unquote, urlsplit

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.errors import PySparkTypeError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import (
    DecimalType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
    StructType,
)

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
    and every input file's footer schema as pyarrow reads it (None where
    the footer could not be read)."""

    resolved: dict[str, TripSchema]
    skipped: list[str]
    footers: dict[str, pa.Schema | None]


# INT96 (Spark/Hive/Impala legacy timestamps) surfaces as timestamp[us], the
# type Spark reads it as, instead of the timestamp[ns] arrow defaults to.
_FOOTER_FORMAT = ds.ParquetFileFormat(
    read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
)


def read_footers(files: list[str]) -> dict[str, pa.Schema | None]:
    """Every file's footer schema, read driver-side with pyarrow (metadata
    only, no Spark job). A path may be one file or a Spark-written
    directory of part files. A file whose footer cannot be read (corrupt,
    truncated, not parquet) maps to None, not a crash — reference behavior
    ``pivot_all_files.py:204-216``."""
    footers: dict[str, pa.Schema | None] = {}
    for f in files:
        try:
            footers[f] = ds.dataset(f, format=_FOOTER_FORMAT).schema
        except (OSError, pa.ArrowException):
            footers[f] = None
    return footers


def _detected_columns(ts: TripSchema) -> list[str]:
    return [c for c in (ts.datetime_col, ts.location_col, ts.lat_col, ts.lon_col) if c]


# Spark's parquet reader widens unsigned ints to the next signed type that
# holds every value; from_arrow_type rejects them.
_UNSIGNED = {
    pa.uint8(): ShortType(),
    pa.uint16(): IntegerType(),
    pa.uint32(): LongType(),
    pa.uint64(): DecimalType(20, 0),
}


def _spark_type(at: pa.DataType, prefer_timestamp_ntz: bool = False):
    if pa.types.is_timestamp(at) and at.unit == "ns":
        # Read as bigint under nanosAsLong; coerce_timestamp restores it.
        return LongType()
    return _UNSIGNED.get(at) or from_arrow_type(at, prefer_timestamp_ntz)


def footer_schema(path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` infers for one parquet file,
    derived driver-side from its footer with pyarrow (no Spark job).
    Tz-naive timestamps map to TIMESTAMP_NTZ, as Spark infers parquet
    TIMESTAMP(isAdjustedToUTC=false) by default
    (``spark.sql.parquet.inferTimestampNTZ.enabled``). None where ``path``
    is not a local file, its footer cannot be read, a column is INT96
    (which pyarrow surfaces tz-naive but Spark reads as TIMESTAMP), or a
    type has no Spark mapping: the caller then lets Spark infer the schema."""
    if not os.path.isfile(path):
        return None
    try:
        with pq.ParquetFile(path) as pf:
            if any(c.physical_type == "INT96" for c in pf.schema):
                return None
            return StructType([
                StructField(f.name, _spark_type(f.type, prefer_timestamp_ntz=True))
                for f in pf.schema_arrow
            ])
    except (OSError, pa.ArrowException, PySparkTypeError):
        return None


def _declared_schema(footer: pa.Schema, ts: TripSchema) -> StructType | None:
    """The Spark schema a group scan declares: only the detected columns, so
    the scan never touches any other column (a case-duplicate name, say,
    which Spark's own inference rejects). None where a detected column is
    ambiguous (a duplicate name) or of a type Spark cannot read."""
    try:
        return StructType(
            [StructField(c, _spark_type(footer.field(c).type)) for c in _detected_columns(ts)]
        )
    except (KeyError, PySparkTypeError):
        return None


# spark.read expands Hadoop globs in its paths; escaping the metacharacters
# makes each path name exactly the file whose footer pyarrow read.
_GLOB_CHARS = re.compile(r"([\\{}\[\]*?])")


def sql_string(value: str) -> str:
    """``value`` as a SQL string literal (Spark unescapes ``\\``: escape it first)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _year_month(raw: DataFrame, inputs: list[str]) -> str:
    """SQL text of ``file_year * 100 + file_month`` for each row of the scan
    ``raw`` over ``inputs``: ``infer_month_from_path`` of the input path that
    named the row's file (a Spark-written directory input names its part
    files), NULL where that path names no month. One per-row lookup on
    ``_metadata.file_path``; a literal when the whole scan shares one value."""
    owner = {os.path.abspath(f): f for f in inputs}
    months: dict[str, str] = {}  # path -> SQL int literal or NULL
    for uri in raw.inputFiles():
        scheme, netloc, path, _, _ = urlsplit(uri)
        local = unquote(path)
        named_by = next(
            (owner[d] for d in (local, *map(str, PurePosixPath(local).parents)) if d in owner),
            local,
        )
        ym = infer_month_from_path(named_by)
        # inputFiles() spells an empty authority out ("file:///p");
        # _metadata.file_path drops it ("file:/p"). Both percent-encode alike.
        key = uri if netloc else f"{scheme}:{path}"
        months[key] = str(ym[0] * 100 + ym[1]) if ym else "NULL"
    values = set(months.values())
    if len(values) <= 1:
        return f"CAST({values.pop() if values else 'NULL'} AS INT)"
    # Keyed on the path's 64-bit hash: the map scan compares longs, not
    # strings. Every row's path is one of the keys, so only two keys that
    # collide could mislead, and map() raises on a duplicate key.
    entries = ", ".join(f"xxhash64({sql_string(k)}), {v}" for k, v in months.items())
    return f"map({entries})[xxhash64(_metadata.file_path)]"


def normalize_trips(
    spark: SparkSession,
    files: list[str],
    typed_place: bool = False,
) -> tuple[DataFrame, IngestReport]:
    """Resolve every file's schema and return one canonical trips DataFrame.

    Each file's schema comes from its parquet footer, read driver-side with
    pyarrow; the only Spark work is the group scans, which start no job
    until an action runs. Discovery is local-only (``discover_parquet_files``
    raises for S3 URIs), so every file the pipeline hands in is one pyarrow
    can open. The taxi type comes from the path. Files with no detectable
    datetime column, or whose footer cannot be read, are skipped (reported,
    not fatal) — reference behavior ``pivot_all_files.py:204-216``.

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

    footers = read_footers(files)
    for f in files:
        footer = footers[f]
        ts = resolve_trip_schema(footer) if footer is not None else None
        decl = _declared_schema(footer, ts) if ts is not None else None
        if decl is None:
            skipped.append(f)
            continue
        resolved[f] = ts
        # Files sharing (projection recipe, taxi type, declared schema) share
        # a scan. The declared schema carries every detected column's type,
        # so two files whose detected columns match but whose physical types
        # differ (int64 vs string location ids, say) never share one scan
        # that would misread or fail the other file.
        groups[(ts, infer_taxi_type_from_path(f), decl)].append(f)

    ensure_nanos_as_long(spark)
    typed_ok = typed_place and all(
        ts.place_mode == "location" for (ts, *_rest) in groups
    )
    parts: list[DataFrame] = []
    for (ts, ttype, decl), group_files in groups.items():
        paths = [_GLOB_CHARS.sub(r"\\\1", f) for f in group_files]
        raw = spark.read.schema(decl).parquet(*paths)
        dt_type = decl[ts.datetime_col].dataType
        if ts.place_mode == "location":
            loc = F.col(ts.location_col)
            place = loc if typed_ok else place_key(loc)
        elif ts.place_mode == "latlon":
            place = latlon_place_key(F.col(ts.lat_col), F.col(ts.lon_col))
        else:
            place = F.lit("")
        # Whole-stage codegen evaluates the shared lookup once per row.
        ym = _year_month(raw, group_files)
        parts.append(
            raw.select(
                coerce_timestamp(F.col(ts.datetime_col), dt_type).alias("pickup_datetime"),
                place.alias("pickup_place"),
                F.expr(f"{sql_string(ttype)} AS taxi_type"),
                F.expr(f"CAST(({ym}) DIV 100 AS INT) AS file_year"),
                F.expr(f"({ym}) % 100 AS file_month"),
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
