"""End-to-end pipeline runner test (reference main(), pivot_all_files.py:366-554).

Builds a tiny two-file taxi-like dataset (heterogeneous schemas: yellow with
tpep_* + PULocationID, green with lpep_* + lat/lon) and runs the full
discover -> normalize -> pivot -> sink -> report flow.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from taxi_data_datapipeline_spark.operators.pivot import HOUR_COLUMNS
from taxi_data_datapipeline_spark.plans.pipeline import (
    PipelineConfig,
    PipelineMetrics,
    render_report_tex,
    run_pivot_pipeline,
    select_input_files,
)


@pytest.fixture(scope="module")
def taxi_dir(tmp_path_factory):
    base = tmp_path_factory.mktemp("taxi")

    # 60 yellow rows in one (date, place) cell; 3 in another; one null ts;
    # one Feb row inside the Jan file (month mismatch: counted, kept).
    yts = [pd.Timestamp(f"2024-01-05 08:{m:02d}:00") for m in range(60)]
    yts += [
        pd.Timestamp("2024-01-06 09:00:00"),
        pd.Timestamp("2024-01-06 09:10:00"),
        pd.Timestamp("2024-01-06 09:20:00"),
        pd.NaT,
        pd.Timestamp("2024-02-01 00:00:00"),
    ]
    ypdf = pd.DataFrame(
        {
            "tpep_pickup_datetime": yts,
            "PULocationID": [132] * 60 + [7, 7, 7, 1, 132],
        }
    )
    pq.write_table(
        pa.Table.from_pandas(ypdf),
        str(base / "yellow_tripdata_2024-01.parquet"),
        coerce_timestamps="us",
    )

    gpdf = pd.DataFrame(
        {
            "lpep_pickup_datetime": [pd.Timestamp("2024-02-10 12:00:00")] * 55,
            "pickup_latitude": [40.7216] * 55,
            "pickup_longitude": [-73.9943] * 55,
        }
    )
    pq.write_table(
        pa.Table.from_pandas(gpdf),
        str(base / "green_tripdata_2024-02.parquet"),
        coerce_timestamps="us",
    )
    return str(base)


def test_select_input_files(taxi_dir):
    cfg = PipelineConfig(input_path=taxi_dir, output_path="/dev/null", name_filter="tripdata")
    files = select_input_files(cfg)
    assert len(files) == 2
    cfg2 = PipelineConfig(
        input_path=taxi_dir, output_path="/dev/null", name_filter="tripdata", max_files=1
    )
    assert len(select_input_files(cfg2)) == 1


def test_run_pivot_pipeline(spark, taxi_dir, tmp_path):
    out = str(tmp_path / "wide.parquet")
    report = str(tmp_path / "report.json")
    cfg = PipelineConfig(
        input_path=taxi_dir,
        output_path=out,
        min_rides=50,
        name_filter="tripdata",
        report_path=report,
        report_format="json",
    )
    metrics = run_pivot_pipeline(spark, cfg)

    assert metrics.files_discovered == 2
    assert metrics.files_processed == 2
    assert metrics.files_skipped == 0
    assert metrics.input_rows == 65 + 55
    assert metrics.parse_failures == 1
    assert metrics.month_mismatch_rows == 1  # the Feb row inside the Jan file
    # Kept: yellow (2024-01-05, 132) with 60; green latlon cell with 55.
    # Dropped: place 7 (3 rides), the stray Feb yellow row (1), null excluded.
    assert metrics.output_rows == 2
    assert metrics.low_count_dropped == 2

    wide = spark.read.parquet(out)
    assert sorted(wide.columns) == sorted(
        ["taxi_type", "date", "pickup_place", *[f"hour_{h}" for h in range(24)]]
    )
    rows = {(r.taxi_type, r.pickup_place): r for r in wide.collect()}
    assert rows[("yellow", "132")].hour_8 == 60
    assert rows[("green", "40.722_-73.994")].hour_12 == 55

    with open(report) as fh:
        rep = json.load(fh)
    assert rep["input_rows"] == 120
    assert rep["output_rows"] == 2


def test_partitioned_output_prunes(spark, taxi_dir, tmp_path):
    """partitionBy output + a partition-key filter on read-back must prune
    at the file-index level (PartitionFilters in the scan), not post-scan."""
    out = str(tmp_path / "wide_part.parquet")
    cfg = PipelineConfig(
        input_path=taxi_dir,
        output_path=out,
        min_rides=1,
        name_filter="tripdata",
        partition_output_by=["taxi_type"],
    )
    run_pivot_pipeline(spark, cfg)
    back = spark.read.parquet(out).filter("taxi_type = 'yellow'")
    plan = spark._jvm.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    assert "isnotnull(taxi_type" in plan
    assert back.count() > 0
    assert {r.taxi_type for r in back.select("taxi_type").distinct().collect()} == {"yellow"}


def test_zorder_output_clusters_both_dimensions(spark, tmp_path):
    """Opt-in ZORDER BY on the pipeline sink: with 4 output files over a
    64-date x 64-place grid, every file must cover only a fraction of BOTH
    dimensions (a single-column sort would give ~full range on the other
    column) — the property that lets readers skip files via min/max stats
    on either filter column."""
    import glob

    base = tmp_path / "taxi_grid"
    base.mkdir()
    dates = pd.date_range("2024-01-01", periods=64, freq="D")
    pdf = pd.DataFrame(
        {
            "tpep_pickup_datetime": [d + pd.Timedelta(hours=8) for d in dates for _ in range(64)],
            "PULocationID": list(range(1, 65)) * 64,
        }
    )
    pq.write_table(
        pa.Table.from_pandas(pdf),
        str(base / "yellow_tripdata_2024-01.parquet"),
        coerce_timestamps="us",
    )

    out = str(tmp_path / "wide_z.parquet")
    cfg = PipelineConfig(
        input_path=str(base),
        output_path=out,
        min_rides=1,
        zorder_by=["date", "pickup_place"],
        zorder_files=4,
    )
    metrics = run_pivot_pipeline(spark, cfg)
    assert metrics.output_rows == 64 * 64

    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) == 4
    for f in files:
        part = spark.read.parquet(f)
        n_dates = part.select("date").distinct().count()
        n_places = part.select("pickup_place").distinct().count()
        assert n_dates <= 0.8 * 64, f"{f}: {n_dates} dates (no date clustering)"
        assert n_places <= 0.8 * 64, f"{f}: {n_places} places (no place clustering)"
    assert spark.read.parquet(out).count() == 64 * 64


def test_corrupt_file_skipped_not_fatal(spark, tmp_path):
    """An unreadable *.parquet is skipped with an error record (reference
    pivot_all_files.py:204-216), never a crash."""
    base = tmp_path / "mixed"
    base.mkdir()
    ypdf = pd.DataFrame(
        {
            "tpep_pickup_datetime": [pd.Timestamp("2024-01-05 08:00:00")] * 3,
            "PULocationID": [1, 1, 1],
        }
    )
    pq.write_table(
        pa.Table.from_pandas(ypdf),
        str(base / "yellow_tripdata_2024-01.parquet"),
        coerce_timestamps="us",
    )
    (base / "green_tripdata_2024-02.parquet").write_bytes(b"this is not parquet")

    cfg = PipelineConfig(
        input_path=str(base), output_path=str(tmp_path / "w.parquet"), min_rides=1
    )
    metrics = run_pivot_pipeline(spark, cfg)
    assert metrics.files_discovered == 2
    assert metrics.files_processed == 1
    assert metrics.files_skipped == 1
    assert metrics.output_rows == 1


def test_cli_main(spark, taxi_dir, tmp_path, capsys):
    """CLI parity with the reference's module invocation (README.md:20-46)."""
    from taxi_data_datapipeline_spark.__main__ import main

    out_dir = str(tmp_path / "cli_out")
    report = str(tmp_path / "cli_report.tex")
    rc = main(
        [
            "--input-dir", taxi_dir,
            "--output-dir", out_dir,
            "--min-rides", "50",
            "--report", report,
            "--max-files", "2",
            "--partition-size", "64MB",
        ]
    )
    assert rc == 0
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["output_rows"] == 2
    with open(report) as fh:
        assert fh.read().startswith("\\begin{itemize}")
    assert spark.read.parquet(f"{out_dir}/wide_table.parquet").count() == 2


def test_report_tex_render():
    m = PipelineMetrics(input_rows=10, output_rows=2)
    tex = render_report_tex(m)
    assert tex.startswith("\\begin{itemize}")
    assert "\\item input rows: 10" in tex
    assert tex.rstrip().endswith("\\end{itemize}")


def test_cli_zorder_flag(spark, taxi_dir, tmp_path, capsys):
    """--zorder-by flows through the CLI into the clustered write path."""
    from taxi_data_datapipeline_spark.__main__ import main

    out_dir = str(tmp_path / "cli_z")
    rc = main(
        [
            "--input-dir", taxi_dir,
            "--output-dir", out_dir,
            "--min-rides", "1",
            "--report", str(tmp_path / "r.json"),
            "--zorder-by", "date", "pickup_place",
            "--zorder-files", "2",
        ]
    )
    assert rc == 0
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["output_rows"] > 0
    back = spark.read.parquet(f"{out_dir}/wide_table.parquet")
    assert back.count() == printed["output_rows"]


def test_run_schema_check_warns_on_undetectable_file(spark, tmp_path):
    """Advisory pre-flight (reference pivot_all_files.py:343-363): the
    first <=5 files are footer-resolved; undetectable ones WARN but do
    not fail, and detectable ones report their datetime column."""
    import warnings as _warnings

    from taxi_data_datapipeline_spark.plans.pipeline import run_schema_check
    from taxi_data_datapipeline_spark.sources.ingest import read_footers

    good = spark.createDataFrame(
        [("2023-01-05 07:30:00", 1)],
        "tpep_pickup_datetime string, PULocationID int",
    )
    good_path = str(tmp_path / "yellow_tripdata_2023-01.parquet")
    good.coalesce(1).write.parquet(good_path)
    bad = spark.createDataFrame([(1, "x")], "a int, b string")
    bad_path = str(tmp_path / "fhv_tripdata_2023-02.parquet")
    bad.coalesce(1).write.parquet(bad_path)

    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        files = [good_path, bad_path]
        res = run_schema_check(files, read_footers(files))
    assert res[good_path] == "tpep_pickup_datetime"
    assert res[bad_path] is None
    msgs = [str(w.message) for w in caught]
    assert any("no pickup-datetime column" in m and bad_path in m for m in msgs)
    assert not any(good_path in m for m in msgs)  # advisory only for bad


def _ungrouped_jobs(spark) -> set[int]:
    """Ids of the jobs started without a job group (the test thread sets
    none); waiting for the listener bus makes every job started so far
    visible to the status tracker."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def _write_two_era_trips(base) -> list[str]:
    """Four monthly yellow files: two in the current column naming, two in
    the older trip-record naming."""
    paths = []
    for month, (ts_col, loc_col) in enumerate(
        [("tpep_pickup_datetime", "PULocationID")] * 2
        + [("Trip_Pickup_DateTime", "PU_Location_ID")] * 2,
        start=1,
    ):
        ts = pd.Timestamp(f"2024-{month:02d}-03 10:00:00")
        path = str(base / f"yellow_tripdata_2024-{month:02d}.parquet")
        pq.write_table(
            pa.table({ts_col: pa.array([ts] * 3, pa.timestamp("us")),
                      loc_col: pa.array([5, 5, 9], pa.int32()),
                      "fare_amount": pa.array([1.0, 2.0, 3.0])}),
            path,
        )
        paths.append(path)
    return paths


def test_normalize_reads_each_footer_once(spark, tmp_path):
    """normalize_trips starts no Spark job: each footer is read once,
    driver-side with pyarrow, and each group scan declares the schema
    that footer gave instead of having Spark infer it. Files group by
    schema era, not by month: four monthly files in two eras are two
    parquet scans."""
    from taxi_data_datapipeline_spark.sources.ingest import normalize_trips

    files = _write_two_era_trips(tmp_path)
    before = _ungrouped_jobs(spark)
    trips, report = normalize_trips(spark, files, typed_place=True)
    assert len(_ungrouped_jobs(spark) - before) == 0
    assert set(report.footers) == set(files) == set(report.resolved)
    plan = trips._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 2
    assert trips.count() == 3 * len(files)


def test_pipeline_schema_check_starts_no_jobs(spark, tmp_path, monkeypatch):
    """run_pivot_pipeline answers its advisory schema check from the
    footers normalize_trips already read: the check starts no Spark job,
    and its {file: datetime column} result is the same."""
    from taxi_data_datapipeline_spark.plans import pipeline

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    files = _write_two_era_trips(in_dir)
    checks = []
    real_check = pipeline.run_schema_check

    def counted_check(*args, **kwargs):
        before = _ungrouped_jobs(spark)
        result = real_check(*args, **kwargs)
        checks.append((result, len(_ungrouped_jobs(spark) - before)))
        return result

    monkeypatch.setattr(pipeline, "run_schema_check", counted_check)
    cfg = PipelineConfig(input_path=str(in_dir), output_path=str(tmp_path / "out"),
                         min_rides=1, name_filter="tripdata")
    metrics = run_pivot_pipeline(spark, cfg)
    assert metrics.files_processed == len(files)
    assert metrics.input_rows == 3 * len(files)
    [(result, jobs)] = checks
    assert jobs == 0
    assert result == {f: ("tpep_pickup_datetime" if i < 2 else "Trip_Pickup_DateTime")
                      for i, f in enumerate(sorted(files))}


def test_plan_build_round_trip_budget(spark, tmp_path):
    """normalize_trips and build_wide_plan write their expressions as SQL
    text that the JVM parses once. Built one Column call at a time, the
    same plan over four files took 3,200-4,000 Py4J round trips."""
    from unittest import mock

    from py4j.clientserver import ClientServerConnection

    from taxi_data_datapipeline_spark.plans.pipeline import build_wide_plan
    from taxi_data_datapipeline_spark.sources.ingest import normalize_trips

    files = _write_two_era_trips(tmp_path)
    send = ClientServerConnection.send_command
    calls = []

    def counted(self, command):
        calls.append(1)
        return send(self, command)

    with mock.patch.object(ClientServerConnection, "send_command", counted):
        trips, _ = normalize_trips(spark, files, typed_place=True)
        build_wide_plan(trips, 1, taxi_types=["yellow"])
    assert 0 < len(calls) < 1000


def test_flagship_plan_is_one_fused_aggregate(spark, taxi_dir):
    """The audit counters are columns of the pivot's own aggregate: the
    executed plan holds ONE CollectMetrics, above the final HashAggregate
    (over one row per group, not per input row), and the hour counters are
    FILTER clauses, so no hoisted ``_common_expr`` boolean per row."""
    from taxi_data_datapipeline_spark.plans.pipeline import build_wide_plan
    from taxi_data_datapipeline_spark.sources.ingest import normalize_trips

    cfg = PipelineConfig(input_path=taxi_dir, output_path="/dev/null", name_filter="tripdata")
    trips, _ = normalize_trips(spark, select_input_files(cfg), typed_place=True)
    wide, _ = build_wide_plan(trips, 50, taxi_types=["green", "yellow"])
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert plan.count("CollectMetrics") == 1
    assert plan.index("CollectMetrics") < plan.index("HashAggregate")
    assert "_common_expr" not in plan


def _write_trips(path, stamps, places):
    pdf = pd.DataFrame({"tpep_pickup_datetime": stamps, "PULocationID": places})
    pq.write_table(pa.Table.from_pandas(pdf), path, coerce_timestamps="us")


@pytest.mark.parametrize("min_rides, kept, dropped", [(5, 1, 3), (0, 4, 0)])
def test_pipeline_counters_match_hand_counts(spark, tmp_path, min_rides, kept, dropped):
    """All five counters come from the one aggregate. A null timestamp in
    the same (type, place) as a kept cell is a parse failure, never a
    written row; rows of a file whose path names no month are never
    month mismatches."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ts = pd.Timestamp
    # March file: 6 rides in the kept cell (place 5), a null timestamp at
    # place 5, 2 rides at place 9, one April ride (a month mismatch).
    _write_trips(
        str(in_dir / "yellow_tripdata_2024-03.parquet"),
        [ts(f"2024-03-04 10:{m:02d}") for m in range(6)]
        + [pd.NaT, ts("2024-03-04 11:00"), ts("2024-03-04 11:30"), ts("2024-04-01 00:30")],
        [5] * 6 + [5, 9, 9, 5],
    )
    # No month in the path: 3 more rides in the kept cell, 2 in July, a null.
    _write_trips(
        str(in_dir / "yellow_extra.parquet"),
        [ts("2024-03-04 12:00")] * 3 + [ts("2024-07-01 08:00")] * 2 + [pd.NaT],
        [5] * 6,
    )
    out = str(tmp_path / "wide")
    cfg = PipelineConfig(input_path=str(in_dir), output_path=out, min_rides=min_rides)
    metrics = run_pivot_pipeline(spark, cfg)

    assert metrics.files_processed == 2
    assert metrics.input_rows == 16
    assert metrics.parse_failures == 2
    assert metrics.month_mismatch_rows == 1
    assert metrics.output_rows == kept
    assert metrics.low_count_dropped == dropped
    rows = spark.read.parquet(out).collect()
    assert len(rows) == kept
    assert all(r.date is not None for r in rows)
    cell = next(r for r in rows if str(r.date) == "2024-03-04" and r.pickup_place == "5")
    assert (cell.hour_10, cell.hour_12, sum(cell[h] for h in HOUR_COLUMNS)) == (6, 3, 9)
