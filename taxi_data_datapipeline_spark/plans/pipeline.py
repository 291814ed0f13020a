"""Flagship pipeline runner: discover -> normalize -> pivot -> sink -> report.

Re-expresses the reference's end-to-end ``main()`` (``pivot_all_files.py:
366-554``) as footers read driver-side with pyarrow plus two Spark jobs, the
pivot and its write. An era group of more than 32 paths
(``spark.sql.sources.parallelPartitionDiscovery.threshold``) adds one
parallel-listing job when its scan is built:

* file discovery + name filter + priority sort + max-files slice
  (reference ``pivot_all_files.py:399-409``) stay driver-side — they are
  metadata operations on a path list;
* each file's footer schema is read once, driver-side with pyarrow; the
  group scans and the advisory schema check both reuse it;
* the per-file process fan-out, per-batch partial aggregation, intermediate
  parquet materialization, and final combine (reference §3.1 steps 6-7)
  collapse into the single-shuffle ``hourly_pivot`` plan — Spark's task
  scheduler replaces the process pool, and partial/final HashAggregate
  replaces the hand-rolled three-level merge;
* run metrics (input rows, month-mismatch audit, parse failures, low-count
  drops — reference A3/A7) are columns of the pivot's own aggregate
  (``n_rows`` and a FILTER-clause mismatch count beside the 24 hour
  counters), folded by ONE ``DataFrame.observe`` over the aggregate's
  output — one row per (type, date, place) group, not per input row.
  ``observe`` is exactly-once per successful action (safe under task
  retries, unlike accumulators);
* the final table writes straight to the output URI (an ``s3a://`` path on
  a real cluster covers the reference's separate ``aws s3 cp`` step S8);
* the metrics report renders to JSON or LaTeX like the reference's
  ``generate_report`` (``pivot_all_files.py:507-541``).

The plan is SQL text (``selectExpr``, ``filter("<sql>")``, ``F.expr``) parsed
once in the JVM: each ``Column``-API call costs several Py4J round trips
(about 3 k per pass). Labels go through ``sources.ingest.sql_string``.

Scale: the only data movement is the pivot's one shuffle on the
(type, date, place) key; everything else is embarrassingly parallel scan +
map-side work. No driver-side data ever materializes except the observed
metric scalars.
"""

from __future__ import annotations

import json
import time
from collections.abc import Mapping, Sequence
from dataclasses import asdict, dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from taxi_data_datapipeline_spark.operators.pivot import HOUR_COLUMNS, pivot_counts, row_total
from taxi_data_datapipeline_spark.sources.ingest import normalize_trips, sql_string
from taxi_data_datapipeline_spark.sources.paths import (
    discover_parquet_files,
    infer_taxi_type_from_path,
)
from taxi_data_datapipeline_spark.sources.schema_detect import resolve_trip_schema


@dataclass
class PipelineConfig:
    """CLI-surface of the reference ``main()`` (``pivot_all_files.py:367-392``)."""

    input_path: str
    output_path: str
    min_rides: int = 50
    max_files: int | None = None
    name_filter: str | None = None  # reference: "tripdata" (S5)
    report_path: str | None = None
    report_format: str = "json"  # "json" | "tex"
    partition_output_by: list[str] = field(default_factory=list)
    # Opt-in multi-dimensional clustering of the output files (OPTIMIZE
    # ZORDER BY analog): readers filtering on ANY of these columns skip
    # files/row-groups via parquet min/max stats.
    zorder_by: list[str] = field(default_factory=list)
    zorder_files: int = 8
    # Advisory <=5-file schema pre-flight (reference run_schema_check).
    schema_check: bool = True


@dataclass
class PipelineMetrics:
    """The reference's run-report record (``pivot_all_files.py:511-521``)."""

    files_discovered: int = 0
    files_processed: int = 0
    files_skipped: int = 0
    input_rows: int = 0
    output_rows: int = 0
    parse_failures: int = 0
    month_mismatch_rows: int = 0
    low_count_dropped: int = 0
    wall_seconds: float = 0.0


def _priority_sort(files: list[str]) -> list[str]:
    """yellow/green before fhv (reference ``pivot_all_files.py:406``)."""

    def key(p: str) -> tuple[int, str]:
        low = p.lower()
        if "yellow" in low or "green" in low:
            return (0, p)
        if "fhv" in low:
            return (1, p)
        return (2, p)

    return sorted(files, key=key)


def select_input_files(config: PipelineConfig) -> list[str]:
    """Discovery + name filter + priority sort + slice (reference S1/S5/O2/O4)."""
    files = discover_parquet_files(config.input_path)
    if config.name_filter:
        files = [f for f in files if config.name_filter in f.lower()]
    files = _priority_sort(files)
    if config.max_files is not None:
        files = files[: config.max_files]
    return files


def run_schema_check(
    files: list[str], footers: Mapping[str, pa.Schema | None], sample: int = 5
) -> dict[str, str | None]:
    """Advisory schema pre-flight (reference ``pivot_all_files.py:343-363``):
    resolve the first ``sample`` files' footer schemas and WARN about any
    whose pickup-datetime column cannot be detected, before the pivot
    spends cluster time. Advisory ONLY: a warned file is one
    ``normalize_trips`` skips, and an unsampled file may still fail and be
    skip-reported.

    ``footers`` maps each file to its pyarrow footer schema, or None where
    the footer could not be read (``IngestReport.footers``): the check
    reads no footer itself.

    Returns {file: detected_datetime_col_or_None} for the sampled files.
    """
    import warnings

    results: dict[str, str | None] = {}
    for f in files[:sample]:
        footer = footers[f]
        ts = resolve_trip_schema(footer) if footer is not None else None
        results[f] = ts.datetime_col if ts is not None else None
        if ts is None:
            warnings.warn(
                f"schema check: no pickup-datetime column detected in {f} "
                "(file will be skipped at ingest)",
                stacklevel=2,
            )
    return results


def build_wide_plan(
    trips: DataFrame,
    min_rides: int,
    taxi_types: Sequence[str] | None = None,
) -> tuple[DataFrame, Observation]:
    """Build the pivot plan with its audit counters in the same aggregate.

    Returns (wide_df, observation). Every input row, null timestamps
    included, goes through ONE aggregate on (taxi type, date, place): the
    24 hour counters plus ``n_rows`` and the month-mismatch count
    ``n_mismatch`` (reference A3 semantics: mismatches are COUNTED, the
    rows still aggregate). A null timestamp lands in a group whose date is
    NULL; that group is never written. The observation sits over the
    aggregate's output, one row per group instead of one per input row,
    and yields all five counters: input_rows, parse_failures (the rows of
    the NULL-date groups), month_mismatch, and over the dated groups only
    low_count_dropped and kept (reference P3 stats dict).

    ``taxi_types`` (the driver-known label universe, from ingest) lets
    the aggregate key on a small INT code instead of the label string:
    the encoding CASE pushes through the Union and constant-folds to a
    literal per branch (labels are per-file-group literals), shaving the
    per-row string hash/compare off the hot aggregate (~20% on the
    50M-row probe); the label is decoded back per OUTPUT row. Omitted ->
    group on the string, unchanged semantics.
    """
    # ONE timestamp decomposition per row: epoch seconds once
    # (timestamp->long is a pure integer op), date and hour by integer
    # arithmetic (exact under the UTC session timezone session.py pins;
    # floor/pmod keep pre-1970 timestamps correct). The month-mismatch
    # audit compares year*12 + month of the derived DATE with the file's
    # (int calendar math on the day number, no zone lookups).
    secs = "CAST(pickup_datetime AS BIGINT)"
    # pickup_place keeps whatever type ingest resolved (native ints under
    # typed_place): the aggregation below keys on it, and hashing a
    # fixed-width int beats hashing a freshly-cast string ~2.5x at the
    # pivot's row rate. The string contract is restored AFTER the
    # aggregate, where it costs one cast per OUTPUT row (thousands-fold
    # fewer than input rows).
    if taxi_types:
        codes = [(i, sql_string(t)) for i, t in enumerate(taxi_types)]
        enc = " ".join(f"WHEN taxi_type = {t} THEN {i}" for i, t in codes)
        dec = " ".join(f"WHEN taxi_key = {i} THEN {t}" for i, t in codes)
        type_key = f"CAST(CASE {enc} ELSE {len(codes)} END AS INT)"
        type_out = f"CASE {dec} ELSE 'unknown' END"
    else:
        type_key, type_out = "taxi_type", "taxi_key"
    projected = trips.selectExpr(
        f"{type_key} AS taxi_key", "file_year", "file_month",
        f"date_from_unix_date(CAST(floor({secs} / 86400) AS INT)) AS date",
        f"CAST(pmod({secs}, 86400) / 3600 AS INT) AS hour", "pickup_place",
    )
    mismatch = ("file_year IS NOT NULL AND"
                " year(date) * 12 + month(date) <> file_year * 12 + file_month")
    grouped = pivot_counts(
        projected, ["taxi_key", "date", "pickup_place"], "hour", range(24), "hour_",
        extra=["count(1) AS n_rows", f"count(1) FILTER (WHERE {mismatch}) AS n_mismatch"],
    )
    # observe() rejects FILTER aggregates: the conditional sums are CASTs.
    total = row_total(HOUR_COLUMNS)
    kept = f"date IS NOT NULL AND ({total}) >= {min_rides}"
    obs = Observation("pivot")
    grouped = grouped.observe(
        obs,
        F.expr("sum(n_rows) AS input_rows"),
        F.expr("sum(CAST(date IS NULL AS BIGINT) * n_rows) AS parse_failures"),
        F.expr("sum(n_mismatch) AS month_mismatch"),
        F.expr(f"sum(CAST(date IS NOT NULL AND ({total}) < {min_rides} AS BIGINT))"
               " AS low_count_dropped"),
        F.expr(f"sum(CAST({kept} AS BIGINT)) AS kept"),
    )
    wide = grouped.filter(kept).selectExpr(
        f"{type_out} AS taxi_type", "date", "CAST(pickup_place AS STRING) AS pickup_place",
        *HOUR_COLUMNS,
    )
    return wide, obs


def run_pivot_pipeline(
    spark: SparkSession, config: PipelineConfig
) -> PipelineMetrics:
    """Execute the full pipeline; returns the observed run metrics."""
    t0 = time.time()
    files = select_input_files(config)
    trips, ingest_report = normalize_trips(spark, files, typed_place=True)
    if config.schema_check:
        run_schema_check(files, ingest_report.footers)
    types = sorted(
        {infer_taxi_type_from_path(f) for f in ingest_report.resolved}
    )
    wide, obs = build_wide_plan(
        trips, config.min_rides, taxi_types=types or None
    )

    if config.zorder_by:
        from taxi_data_datapipeline_spark.functions.layout import zorder_dataframe

        wide = zorder_dataframe(wide, config.zorder_by, config.zorder_files)
    writer = wide.write.mode("overwrite")
    if config.partition_output_by:
        writer = writer.partitionBy(*config.partition_output_by)
    writer.parquet(config.output_path)

    counts = obs.get if files and ingest_report.resolved else {}
    metrics = PipelineMetrics(
        files_discovered=len(files),
        files_processed=len(ingest_report.resolved),
        files_skipped=len(ingest_report.skipped),
        input_rows=int(counts.get("input_rows") or 0),
        parse_failures=int(counts.get("parse_failures") or 0),
        month_mismatch_rows=int(counts.get("month_mismatch") or 0),
        low_count_dropped=int(counts.get("low_count_dropped") or 0),
        output_rows=int(counts.get("kept") or 0),
        wall_seconds=round(time.time() - t0, 2),
    )
    if config.report_path:
        write_report(metrics, config.report_path, config.report_format)
    return metrics


def render_report_tex(metrics: PipelineMetrics) -> str:
    """LaTeX itemize report (reference ``pivot_all_files.py:524-537``)."""
    lines = [
        "\\begin{itemize}",
        *[
            f"  \\item {k.replace('_', ' ')}: {v}"
            for k, v in asdict(metrics).items()
        ],
        "\\end{itemize}",
    ]
    return "\n".join(lines) + "\n"


def write_report(metrics: PipelineMetrics, path: str, fmt: str = "json") -> None:
    """Render metrics to JSON or .tex (reference X5)."""
    if fmt == "tex":
        body = render_report_tex(metrics)
    else:
        body = json.dumps(asdict(metrics), indent=2) + "\n"
    with open(path, "w") as fh:
        fh.write(body)
