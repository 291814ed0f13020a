"""Self-tests of the benchmark (no Spark needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import gen, run, trace

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _file_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_trips_deterministic_per_seed(tmp_path):
    a = gen.make_trips(str(tmp_path / "a"), 7, 24_000, 12)
    b = gen.make_trips(str(tmp_path / "b"), 7, 24_000, 12)
    c = gen.make_trips(str(tmp_path / "c"), 8, 24_000, 12)
    assert _file_bytes(str(tmp_path / "a")) == _file_bytes(str(tmp_path / "b"))
    assert _file_bytes(str(tmp_path / "a")) != _file_bytes(str(tmp_path / "c"))
    assert (a.rows, a.null_ts, a.month_mismatch) == (b.rows, b.null_ts, b.month_mismatch)


def test_trips_truth_matches_pyarrow_recount(tmp_path):
    truth = gen.make_trips(str(tmp_path), 3, 60_000, 12)
    rows = nulls = mismatch = 0
    old = 0
    for f in truth.files:
        table = pq.read_table(f.path)
        ts = table.column(f.datetime_col)
        year, month = (int(x) for x in re.search(r"(\d{4})-(\d{2})", f.path).groups())
        start = np.datetime64(f"{year}-{month:02d}-01", "us")
        end = (np.datetime64(f"{year}-{month:02d}", "M") + 1).astype("datetime64[us]")
        valid = ts.drop_null().to_numpy()
        rows += len(table)
        nulls += ts.null_count
        mismatch += int(((valid < start) | (valid >= end)).sum())
        old += f.datetime_col == gen.OLD_SCHEMA[0]
        assert pc.min(table.column(f.location_col)).as_py() >= 1
    assert (truth.rows, truth.null_ts, truth.month_mismatch) == (rows, nulls, mismatch)
    assert truth.rows == 60_000 and truth.null_ts > 0 and truth.month_mismatch > 0
    assert old == 12 // gen.OLD_SCHEMA_EVERY


def test_tables_deterministic(tmp_path):
    a = gen.make_tables(str(tmp_path / "a"), 0.002, 42)
    gen.make_tables(str(tmp_path / "b"), 0.002, 42)
    assert _file_bytes(str(tmp_path / "a")) == _file_bytes(str(tmp_path / "b"))
    assert a == {"documents": 100, "events": 2000}


def _tracer() -> trace.Tracer:
    """pass [100, 110] holding q [101, 105] (children build [101, 102] and
    action [102, 105]) and a streaming span [106, 109]."""
    t = trace.Tracer("r")
    for sid, (name, start, end, parent) in enumerate([
        ("pass", 100.0, 110.0, None),
        ("q", 101.0, 105.0, 0),
        ("q.build", 101.0, 102.0, 1),
        ("q.action", 102.0, 105.0, 1),
        ("stream", 106.0, 109.0, 0),
    ]):
        t.spans.append(trace.Span(sid, name, start, end, parent, "r"))
    return t


def _events() -> list[str]:
    def task(stage, cpu_ns, run_ms, shuffle, spill):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor CPU Time": cpu_ns, "Executor Run Time": run_ms, "JVM GC Time": 10,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0}}

    def stage(sid, start, end):
        return {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": sid, "Submission Time": start, "Completion Time": end}}

    evs = [
        # Job 0 is tagged with the action span's group.
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 102_100,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "r/3"}},
        stage(0, 102_200, 103_200), stage(1, 103_000, 104_000),
        task(0, 2_000_000_000, 1500, 1_000_000, 0),
        task(1, 1_000_000_000, 900, 0, 3_000_000),
        # Job 1 has no group (a streaming micro-batch): folded by time.
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 107_000,
         "Stage IDs": [2], "Properties": {}},
        stage(2, 107_000, 107_500), task(2, 500_000_000, 400, 0, 0),
        {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
         "progress": {"timestamp": "1970-01-01T00:01:46.500Z", "durationMs": {
             "addBatch": 800, "queryPlanning": 100, "walCommit": 50,
             "triggerExecution": 1200}}},
    ]
    return [json.dumps(e) + "\n" for e in evs]


def test_self_times():
    selfs = trace.self_times(_tracer().spans)
    assert selfs[0] == 10.0 - 4.0 - 3.0
    assert selfs[1] == 0.0
    assert selfs[3] == 3.0


def test_event_log_folding():
    t = _tracer()
    folded = trace.fold_event_log(_events(), t)
    action = trace.rollup(folded, t, 3)
    assert action["jobs"] == 1 and action["stages"] == 2 and action["tasks"] == 2
    assert action["executor_cpu_s"] == 3.0 and action["executor_run_s"] == 2.4
    assert action["shuffle_write_mb"] == 1.0 and action["spill_mb"] == 3.0
    # Stages [102.2, 103.2] and [103.0, 104.0] overlap: 1.8 s busy.
    assert abs(action["stage_busy_s"] - 1.8) < 1e-9
    assert abs(action["driver_gap_s"] - 1.2) < 1e-9
    stream = trace.rollup(folded, t, 4)
    assert stream["jobs"] == 1 and stream["batches"] == 1
    assert stream["add_batch_s"] == 0.8 and stream["trigger_s"] == 1.2
    whole = trace.rollup(folded, t, 0)
    assert whole["jobs"] == 2 and whole["tasks"] == 3 and abs(whole["gc_s"] - 0.03) < 1e-9
    assert abs(whole["stage_busy_s"] - 2.3) < 1e-9
    assert abs(whole["driver_gap_s"] - 7.7) < 1e-9


def test_read_event_log_orders_rolled_files(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_10_local-1").write_text('{"n": 10}\n')
    (d / "events_2_local-1").write_text('{"n": 2}\n\n')
    (d / "appstatus_local-1").write_text("")
    assert [json.loads(x)["n"] for x in trace.read_event_log(str(tmp_path))] == [2, 10]


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    end_to_end = [m["name"] for m in spec["end_to_end"]]
    per_layer = [m["name"] for m in spec["per_layer"]]
    assert per_layer == run.per_layer_names()
    assert sorted(end_to_end) == sorted(["wall_s", "setup_s", "rows_per_s", "peak_rss_mb"])
    names = end_to_end + per_layer + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)
    assert all(m["unit"] == run.unit_of(m["name"]) for m in spec["per_layer"])


def test_measured_prefers_quiet_passes():
    def p(wall, share):
        return {"wall_s": wall, "steal_s": share * wall * run.CPUS}

    quiet = [p(4.0, 0.0), p(4.1, 0.01), p(3.9, 0.005), p(4.2, 0.015)]
    noisy = [p(6.0, 0.2), p(5.5, 0.1)]
    assert sorted(x["wall_s"] for x in run.measured(quiet + noisy)) == [3.9, 4.0, 4.1, 4.2]
    # Fewer quiet passes than MIN_TIMED_PASSES: the least-stolen ones.
    assert sorted(x["wall_s"] for x in run.measured([p(4.0, 0.0)] + noisy)) == [4.0, 5.5, 6.0]
