"""The engine's benchmark: one workload per process, closed loop, one client.

Usage (from the repository root):

    python3 perfbench/run.py --workload flagship_pivot --seed 1 --seconds 10 --trace 0

A run generates its inputs inside the checkout, starts the engine with
``session.get_spark`` on ``local[nproc]``, warms up, times passes of the
workload for ``--seconds`` (longer while the host steals CPU time, see
``QUIET_STEAL_SHARE``), checks the outputs outside the timed section and
prints one JSON line as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` first makes the
same untraced run, then restarts the Spark context in the same JVM with
Spark's event log on and times traced passes: a span and a Spark job group
around each call into a layer. It folds the event log into the spans and
reports the per-layer metrics, including the traced passes' overhead over
the untraced ones. Spans, folded counters and every pass's timing are
written to ``.perfbench_out/`` in the checkout.

Workloads (one client issues one pass at a time):

* ``flagship_pivot``: ``run_pivot_pipeline`` over seeded monthly taxi
  files. Checked against the generator's ground truth and a DuckDB pivot.
* ``query_mix``: ``clear_memos()`` then registry queries, each forced with
  the noop sink. Checked against each query's DuckDB oracle.

The query workload reads fixed tables (generated with a fixed seed);
``--seed`` drives only the flagship generator.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from contextlib import nullcontext
from unittest import mock

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, trace  # noqa: E402

CPUS = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "3g"
MIN_TIMED_PASSES = 3
# On a shared virtual machine the hypervisor can take CPU time away in
# bursts of tens of seconds (steal in /proc/stat; on a 4-vCPU machine each
# stolen CPU second added about 0.6 s to a pass). A pass is quiet when less
# than QUIET_STEAL_SHARE of the machine's CPU time (wall x cpus) was stolen
# during it. Timing goes on past --seconds, up to TIMED_CAP x --seconds,
# until MIN_TIMED_PASSES passes were quiet; wall_s is the median of the
# quiet passes, or of the MIN_TIMED_PASSES least-stolen ones.
QUIET_STEAL_SHARE = 0.02
TIMED_CAP = 2.0
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")

FLAGSHIP_ROWS = 2_000_000
FLAGSHIP_FILES = 12
MIN_RIDES = 50

TABLE_SF = 0.01
TABLE_SEED = 42
# ngram_jaccard_blocked and lsh_s_curve share one blocked-pairs memo, so a
# pass builds it once (md5 shingling and a gram-string join) and hits it
# once; the streaming drain and the flagship's pivot on a small input are
# bound by fixed per-job and per-query cost.
QUERIES = [
    "ngram_jaccard_blocked", "lsh_s_curve", "streaming_incremental_dedup",
    "hourly_pivot",
]

SPARK_METRICS = ("jobs", "tasks", "stage_busy_s", "driver_gap_s", "executor_cpu_s",
                 "executor_run_s", "gc_s", "shuffle_write_mb", "spill_mb")
PER_QUERY_SPARK = ("driver_gap_s", "executor_cpu_s", "shuffle_write_mb")


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def stolen_share(p: dict) -> float:
    """Share of the machine's CPU time the hypervisor stole during a pass."""
    return p["steal_s"] / (p["wall_s"] * CPUS)


def measured(timed: list[dict]) -> list[dict]:
    """The quiet passes, or the MIN_TIMED_PASSES least-stolen ones."""
    ranked = sorted(timed, key=stolen_share)
    quiet = sum(stolen_share(p) < QUIET_STEAL_SHARE for p in ranked)
    return ranked[:max(quiet, MIN_TIMED_PASSES)]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class FlagshipPivot:
    """The paper's workload: discover -> schema check -> normalize -> hour
    pivot -> HAVING -> parquet write, with observed counters."""

    name = "flagship_pivot"
    warmup_passes = 3

    def __init__(self, work: str, seed: int):
        # Relative paths keep the checkout's location out of the taxi type
        # and month the pipeline infers from each file path.
        self.input_dir = os.path.relpath(os.path.join(work, "trips"), ROOT)
        self.output_dir = os.path.relpath(os.path.join(work, "wide"), ROOT)
        self.seed = seed
        self.truth: gen.TripTruth | None = None
        self.results: list = []

    def prepare(self) -> None:
        self.truth = gen.make_trips(self.input_dir, self.seed, FLAGSHIP_ROWS,
                                    FLAGSHIP_FILES)

    def input_rows(self) -> int:
        return self.truth.rows

    def run_pass(self, bench: Bench, check: bool = False) -> tuple[int, int, dict]:
        from taxi_data_datapipeline_spark.plans import pipeline

        cfg = pipeline.PipelineConfig(
            input_path=self.input_dir, output_path=self.output_dir,
            min_rides=MIN_RIDES, name_filter="tripdata")
        steps = {
            "select_input_files": "sources.discover",
            "run_schema_check": "sources.schema_check",
            "normalize_trips": "sources.normalize",
            "build_wide_plan": "plans.build",
        }
        patches = [mock.patch.object(pipeline, fn, bench.traced(name, getattr(pipeline, fn)))
                   for fn, name in steps.items()] if bench.tracer else []
        for p in patches:
            p.start()
        try:
            self.results.append(pipeline.run_pivot_pipeline(bench.spark, cfg))
        finally:
            for p in patches:
                p.stop()
        return 1, 0, {}

    def check(self, bench: Bench) -> tuple[int, int]:
        """Every pass's counters against the ground truth, and the last
        pass's table against a DuckDB pivot of the same files."""
        import duckdb
        from tools.check_oracle import frame_hash

        t = self.truth
        failed = sum(
            (m.input_rows, m.parse_failures, m.month_mismatch_rows, m.files_processed)
            != (t.rows, t.null_ts, t.month_mismatch, len(t.files))
            for m in self.results)
        hours = ", ".join(f"COUNT(*) FILTER (WHERE hour(ts) = {h}) AS hour_{h}"
                          for h in range(24))
        union = " UNION ALL ".join(
            f"SELECT '{f.taxi_type}' AS taxi_type, \"{f.datetime_col}\" AS ts, "
            f"\"{f.location_col}\" AS loc FROM read_parquet('{f.path}')"
            for f in t.files)
        con = duckdb.connect()
        try:
            oracle = con.sql(
                f"SELECT taxi_type, CAST(ts AS DATE) AS date, "
                f"CAST(loc AS VARCHAR) AS pickup_place, {hours} FROM ({union}) "
                f"WHERE ts IS NOT NULL GROUP BY 1, 2, 3 HAVING COUNT(*) >= {MIN_RIDES}")
            out = con.sql(f"SELECT * FROM read_parquet('{self.output_dir}/*.parquet')")
            o_rows, s_rows = oracle.fetchall(), out.fetchall()
            same = (len(o_rows) == len(s_rows) == self.results[-1].output_rows
                    and frame_hash(oracle.columns, o_rows) == frame_hash(out.columns, s_rows))
        finally:
            con.close()
        if failed or not same:
            print(f"flagship_pivot: {failed} passes with wrong counters, "
                  f"table {'matches' if same else 'differs from'} the DuckDB pivot",
                  file=sys.stderr)
        return 1, failed + (not same)

    def layer_metrics(self, bench: Bench, timed: list[dict]) -> dict[str, float]:
        passes = [p["span"] for p in timed]
        selfs = trace.self_times(bench.tracer.spans)
        last = self.results[-1]
        return {
            "sources.discover_s": bench.child_seconds(passes, "sources.discover"),
            "sources.schema_check_s": bench.child_seconds(passes, "sources.schema_check"),
            "sources.normalize_s": bench.child_seconds(passes, "sources.normalize"),
            "sources.files": last.files_processed,
            "plans.build_s": bench.child_seconds(passes, "plans.build"),
            # The pass's self time is the write action (plus assembling
            # the metrics record).
            "plans.write_s": _median(selfs[p] for p in passes),
            "plans.input_rows": last.input_rows,
            "plans.output_rows": last.output_rows,
            "plans.output_bytes": _dir_bytes(self.output_dir),
        }


def oracle_hashes(sf_dir: str, tables: list[str], queries: list[str]) -> dict:
    """Row count, sorted columns and value hash of each query's DuckDB
    oracle. Cached in the checkout under a digest of the tables and the
    oracle SQL, since the oracles cost several times a pass."""
    import duckdb
    from taxi_data_datapipeline_spark.queries import ORACLES
    from tools.check_oracle import frame_hash

    digest = hashlib.sha256()
    for t in tables:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as fh:
            digest.update(fh.read())
    for q in queries:
        digest.update(ORACLES[q].encode())
    path = os.path.join(CACHE_DIR, f"oracles-{digest.hexdigest()[:24]}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        hashes = {}
        for q in queries:
            rel = con.sql(ORACLES[q])
            rows = rel.fetchall()
            hashes[q] = [len(rows), sorted(rel.columns), frame_hash(rel.columns, rows)]
    finally:
        con.close()
    os.makedirs(CACHE_DIR, exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(hashes, fh)
    os.replace(path + ".tmp", path)
    return hashes


class QueryMix:
    """``clear_memos()`` then each query in order, forced with the noop
    sink. The last warm-up pass collects each result instead and compares
    it with the query's DuckDB oracle."""

    name = "query_mix"
    warmup_passes = 2

    def __init__(self, work: str, seed: int):
        self.sf_dir = os.path.join(work, "tables")
        self.rows: dict[str, int] = {}
        self.oracles: dict = {}

    def prepare(self) -> None:
        self.rows = gen.make_tables(self.sf_dir, TABLE_SF, TABLE_SEED)
        self.oracles = oracle_hashes(self.sf_dir, sorted(self.rows), QUERIES)

    def input_rows(self) -> int:
        """Rows of the tables a pass reads, each table counted once."""
        return sum(self.rows.values())

    def run_pass(self, bench: Bench, check: bool = False) -> tuple[int, int, dict]:
        from taxi_data_datapipeline_spark.queries import QUERIES as REGISTRY
        from taxi_data_datapipeline_spark.queries import clear_memos
        from tools.check_oracle import frame_hash

        with bench.span("memo.clear"):
            entries = clear_memos()
        failed = 0
        for q in QUERIES:
            try:
                with bench.span(f"queries.{q}"):
                    with bench.span(f"queries.{q}.build"):
                        df = REGISTRY[q](bench.spark, self.sf_dir)
                    with bench.span(f"queries.{q}.action"):
                        if check:
                            cols, rows = df.columns, [tuple(r) for r in df.collect()]
                        else:
                            df.write.format("noop").mode("overwrite").save()
            except Exception as ex:  # a failed query is a failed op, not a crash
                print(f"query_mix: {q} raised {type(ex).__name__}: {ex}", file=sys.stderr)
                failed += 1
                continue
            if check and [len(rows), sorted(cols), frame_hash(cols, rows)] != self.oracles[q]:
                print(f"query_mix: {q} differs from its DuckDB oracle", file=sys.stderr)
                failed += 1
        return len(QUERIES), failed, {"memo_entries": entries}

    def check(self, bench: Bench) -> tuple[int, int]:
        return 0, 0  # done in the last warm-up pass

    def layer_metrics(self, bench: Bench, timed: list[dict]) -> dict[str, float]:
        passes = [p["span"] for p in timed]
        m = {"memo.entries": _median(p["memo_entries"] for p in timed)}
        for q in QUERIES:
            m[f"queries.{q}.build_s"] = bench.child_seconds(passes, f"queries.{q}.build")
            m[f"queries.{q}.action_s"] = bench.child_seconds(passes, f"queries.{q}.action")
            folds = bench.fold_children(passes, f"queries.{q}")
            m[f"queries.{q}.jobs"] = _median(f["jobs"] for f in folds)
            for k in PER_QUERY_SPARK:
                m[f"spark.{q}.{k}"] = _median(f[k] for f in folds)
        folds = bench.fold_children(passes, "queries.streaming_incremental_dedup")
        for k in trace.STREAM_FIELDS:
            m[f"streaming.{k}"] = _median(f[k] for f in folds)
        return m


WORKLOADS = {"flagship_pivot": FlagshipPivot, "query_mix": QueryMix}


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run prints, on every workload."""
    names = ["session.start_s", "session.cold_pass_s",
             "sources.discover_s", "sources.schema_check_s", "sources.normalize_s",
             "sources.files", "plans.build_s", "plans.write_s", "plans.input_rows",
             "plans.output_rows", "plans.output_bytes", "memo.entries"]
    for q in QUERIES:
        names += [f"queries.{q}.build_s", f"queries.{q}.action_s", f"queries.{q}.jobs"]
    names += [f"streaming.{k}" for k in trace.STREAM_FIELDS]
    names += [f"spark.{k}" for k in SPARK_METRICS]
    for q in QUERIES:
        names += [f"spark.{q}.{k}" for k in PER_QUERY_SPARK]
    return names + ["host.steal_s", "host.loadavg", "trace.overhead_s"]


def unit_of(name: str) -> str:
    for suffix, unit in (("_per_s", "1/s"), ("_s", "s"), ("_mb", "MB"), ("_bytes", "B")):
        if name.endswith(suffix):
            return unit
    return "load" if name == "host.loadavg" else "count"


class Bench:
    """One run: a Spark session, the passes timed on it, and (traced) spans."""

    def __init__(self, workload, seconds: float, work: str):
        self.workload = workload
        self.seconds = seconds
        self.work = work
        self.spark = None
        self.tracer: trace.Tracer | None = None
        self.folded = trace.Folded()
        self.attempted = 0
        self.failed = 0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def traced(self, name: str, fn):
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapper

    def within(self, passes: list[int], name: str) -> list[list[trace.Span]]:
        """Per pass, the spans called ``name`` that ran inside it."""
        spans = self.tracer.spans
        return [[s for s in spans if s.name == name
                 and spans[p].start <= s.start and s.end <= spans[p].end]
                for p in passes]

    def child_seconds(self, passes: list[int], name: str) -> float:
        """Median over passes of the summed duration of spans ``name`` in each."""
        return _median(sum(s.seconds for s in found) for found in self.within(passes, name))

    def fold_children(self, passes: list[int], name: str) -> list[dict]:
        """Per pass, the event-log counters of the spans ``name`` in it, summed."""
        folds = []
        for found in self.within(passes, name):
            total: dict[str, float] = defaultdict(float)
            for s in found:
                for k, v in trace.rollup(self.folded, self.tracer, s.id).items():
                    total[k] += v
            folds.append(total)
        return folds

    def start(self, extra_conf: dict[str, str] | None = None) -> float:
        from taxi_data_datapipeline_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # A fixed heap size, so peak RSS does not depend on when G1
            # chose to grow the heap; the JVM's temporary files (and its
            # perf-data file, which ignores java.io.tmpdir) stay out of /tmp.
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            **(extra_conf or {}),
        }
        t0 = time.perf_counter()
        with self.span("session.start"):
            self.spark = get_spark("perfbench", cpus=CPUS, extra_conf=conf)
        if self.tracer:
            self.tracer.spark = self.spark
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the Spark context; the JVM stays up (see ``shutdown_jvm``)."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            if self.tracer:
                self.tracer.spark = None

    def one_pass(self, label: str, check: bool = False) -> dict:
        steal0, t0 = trace.steal_s(), time.perf_counter()
        with self.span("pass") as sp:
            ops, failed, info = self.workload.run_pass(self, check)
        wall = time.perf_counter() - t0
        self.attempted += ops
        self.failed += failed
        rec = {"label": label, "wall_s": wall, "steal_s": trace.steal_s() - steal0,
               "span": sp.id if sp else None, **info}
        print(f"{self.workload.name} {label} pass {wall:.3f}s steal {rec['steal_s']:.2f}s",
              file=sys.stderr)
        return rec

    def warm_and_time(self, warmup: int) -> tuple[list[dict], list[dict]]:
        """``warmup`` passes (the last one checks outputs), then timed passes
        for ``seconds``, or longer until enough of them were quiet."""
        warm = [self.one_pass("warmup", check=i == warmup - 1) for i in range(warmup)]
        timed: list[dict] = []
        t0 = time.perf_counter()
        while True:
            elapsed = time.perf_counter() - t0
            quiet = sum(stolen_share(p) < QUIET_STEAL_SHARE for p in timed)
            if len(timed) >= MIN_TIMED_PASSES and (
                    elapsed >= TIMED_CAP * self.seconds
                    or (elapsed >= self.seconds and quiet >= MIN_TIMED_PASSES)):
                return warm, timed
            timed.append(self.one_pass("timed"))


def shutdown_jvm() -> None:
    """End the Py4J gateway JVM and wait for it, if one was launched."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def traced_passes(bench: Bench, record: dict) -> dict[str, float]:
    """Restart the context with the event log on, time traced passes and
    fold the log into per-layer metrics."""
    workload = bench.workload
    log_dir = os.path.join(bench.work, "eventlog")
    os.makedirs(log_dir)
    bench.stop()
    bench.tracer = trace.Tracer(run_id=f"{workload.name}-{os.getpid()}")
    bench.start({"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": f"file://{log_dir}",
                 "spark.eventLog.compress": "false"})
    _, traced = bench.warm_and_time(1)
    bench.stop()  # flushes and closes the event log
    timed = measured(traced)
    bench.folded = trace.fold_event_log(trace.read_event_log(log_dir), bench.tracer)
    folds = [trace.rollup(bench.folded, bench.tracer, p["span"]) for p in timed]
    m = dict.fromkeys(per_layer_names(), 0.0)
    m["session.start_s"] = record["start_s"]
    m["session.cold_pass_s"] = record["warm"][0]["wall_s"]
    for k in SPARK_METRICS:
        m[f"spark.{k}"] = _median(f[k] for f in folds)
    m.update(workload.layer_metrics(bench, timed))
    m["host.steal_s"] = _median(p["steal_s"] for p in timed)
    m["host.loadavg"] = os.getloadavg()[0]
    m["trace.overhead_s"] = (_median(p["wall_s"] for p in timed)
                             - _median(p["wall_s"] for p in measured(record["timed"])))
    record["traced"] = traced
    bench.tracer.write(
        os.path.join(OUT_DIR, f"spans-{workload.name}-seed{record['seed']}.json"),
        {"folded": bench.folded.counters})
    return m


def run(args) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(OUT_DIR, exist_ok=True)
    # Spark and its Python workers write scratch files inside the checkout
    # only: SPARK_LOCAL_DIRS would override spark.local.dir.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    workload = WORKLOADS[args.workload](work, args.seed)
    bench = Bench(workload, args.seconds, work)
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "cpus": CPUS, "driver_memory": DRIVER_MEMORY}
    try:
        t0 = time.perf_counter()
        workload.prepare()
        record["prepare_s"] = time.perf_counter() - t0
        record["start_s"] = bench.start()
        record["warm"], record["timed"] = bench.warm_and_time(workload.warmup_passes)
        rss_mb = trace.vm_hwm_mb(int(
            bench.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()))
        record["loadavg"] = os.getloadavg()[0]
        ops, failed = workload.check(bench)
        bench.attempted += ops
        bench.failed += failed
        wall = _median(p["wall_s"] for p in measured(record["timed"]))
        metrics = {
            "wall_s": wall,
            "setup_s": record["start_s"] + sum(p["wall_s"] for p in record["warm"]),
            "rows_per_s": workload.input_rows() / wall,
            "peak_rss_mb": rss_mb,
        }
        if args.trace:
            metrics = traced_passes(bench, record)
        record["metrics"] = metrics
    finally:
        bench.stop()
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        with open(os.path.join(OUT_DIR, name), "w") as fh:
            json.dump(record, fh, indent=1)
    print(f"{args.workload}: cpus={CPUS} driver_memory={DRIVER_MEMORY} "
          f"timed passes={len(record['timed'])} attempted={bench.attempted} "
          f"failed={bench.failed}", file=sys.stderr)
    return {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)}
                    for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import taxi_data_datapipeline_spark.session  # noqa: F401
        import tools.check_oracle  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the engine is not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
