"""Apples-to-apples flagship throughput benchmark vs BASELINE.md.

The reference's only published number is the end-to-end taxi pivot:
3.41 B input rows in 787.67 s on 8 vCPUs = ~4.33 M rows/s
(`/root/reference/performance.md:33`, summarized in BASELINE.md). The
driver's TPC-H-ish suite can't reproduce that workload shape, so this
tool measures the SAME pipeline (discover -> fuzzy-schema normalize ->
hour pivot -> min-rides HAVING -> parquet sink + observed metrics) on a
synthetic taxi dataset large enough for per-row work to dominate job
overhead, pinned to the reference's core count by default.

Dataset: N rows across monthly yellow/green files (reference-like naming
so taxi-type/month-from-path kick in), tpep/lpep pickup timestamps,
skewed PULocationID, ~0.1% null timestamps (parse failures) and a pinch
of month-mismatch rows — the audit paths all run, as in the real thing.

Usage:
  python tools/pivot_throughput.py [--rows 100000000] [--files 16]
      [--workers 8] [--data-dir /tmp/taxi_bench] [--keep-data]

Prints one JSON line: {"rows": N, "wall_sec": W, "rows_per_sec": R,
"baseline_rows_per_sec": 4329435, "speedup_vs_baseline": R/B, ...}.

The JSON also carries ``steal_s``, the CPU seconds the hypervisor stole
during the measured run (perfbench's ``steal_s`` delta), and ``quiet``:
whether that stolen share stayed under perfbench's QUIET_STEAL_SHARE. A
sample that is not quiet is an upper bound on the engine's time.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import QUIET_STEAL_SHARE, stolen_share  # noqa: E402
from perfbench.trace import steal_s  # noqa: E402

BASELINE_ROWS_PER_SEC = 3_410_052_578 / 787.67  # performance.md:33


def generate(data_dir: str, n_rows: int, n_files: int) -> int:
    """Write reference-shaped monthly taxi files with numpy+pyarrow (no
    Spark involvement — generation must not warm anything)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(data_dir, exist_ok=True)
    per = n_rows // n_files
    total = 0
    rng = np.random.default_rng(42)
    for i in range(n_files):
        year, month = 2020 + i // 12, (i % 12) + 1
        taxi = "yellow" if i % 2 == 0 else "green"
        ts_col = "tpep_pickup_datetime" if taxi == "yellow" else "lpep_pickup_datetime"
        month_start = np.datetime64(f"{year}-{month:02d}-01", "us").astype("int64")
        # ~30 days of microseconds; a 0.2% slice spills into the next month
        # (month-mismatch audit rows), 0.1% nulls (parse failures).
        offs = rng.integers(0, 30 * 86400 * 1_000_000, size=per, dtype=np.int64)
        ts = month_start + offs
        null_mask = rng.random(per) < 0.001
        # Zipf-ish location skew: square a uniform to concentrate mass.
        u = rng.random(per)
        loc = (u * u * 264).astype(np.int32) + 1
        fare = np.round(rng.gamma(2.0, 9.0, size=per), 2)
        dist = np.round(rng.gamma(1.5, 2.0, size=per), 2)
        arrays = [
            pa.Array.from_pandas(
                ts.view("datetime64[us]"), mask=null_mask, type=pa.timestamp("us")
            ),
            pa.array(loc),
            pa.array(fare),
            pa.array(dist),
        ]
        table = pa.Table.from_arrays(
            arrays, names=[ts_col, "PULocationID", "fare_amount", "trip_distance"]
        )
        pq.write_table(
            table,
            os.path.join(data_dir, f"{taxi}_tripdata_{year}-{month:02d}.parquet"),
            row_group_size=1_000_000,
        )
        total += per
    return total


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=100_000_000)
    ap.add_argument("--files", type=int, default=16)
    ap.add_argument("--workers", type=int, default=8,
                    help="local[N] cores; 8 matches the reference host")
    ap.add_argument("--data-dir", default="/tmp/taxi_bench")
    ap.add_argument("--out-dir", default="/tmp/taxi_bench_out")
    ap.add_argument("--keep-data", action="store_true",
                    help="reuse an existing generated dataset")
    ap.add_argument("--conf", action="append", default=[],
                    help="extra spark conf k=v (repeatable), for A/B runs")
    args = ap.parse_args()

    if not (args.keep_data and os.path.isdir(args.data_dir)):
        if os.path.isdir(args.data_dir):
            shutil.rmtree(args.data_dir)
        t0 = time.time()
        generate(args.data_dir, args.rows, args.files)
        print(f"generated {args.rows:,} rows in {time.time()-t0:.1f}s",
              file=sys.stderr)

    from taxi_data_datapipeline_spark.plans.pipeline import (
        PipelineConfig,
        run_pivot_pipeline,
    )
    from taxi_data_datapipeline_spark.session import get_spark

    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark("pivot_throughput", cpus=args.workers, extra_conf=extra or None)
    cfg = PipelineConfig(
        input_path=args.data_dir,
        output_path=os.path.join(args.out_dir, "wide_table.parquet"),
        min_rides=50,
        name_filter="tripdata",
        report_path=None,
    )
    steal0 = steal_s()
    t0 = time.time()
    metrics = run_pivot_pipeline(spark, cfg)
    wall = time.time() - t0
    stolen = steal_s() - steal0
    rps = metrics.input_rows / wall if wall else 0.0
    result = {
        "metric": "pivot_end_to_end_rows_per_sec",
        "rows": metrics.input_rows,
        "output_rows": metrics.output_rows,
        "parse_failures": metrics.parse_failures,
        "month_mismatch_rows": metrics.month_mismatch_rows,
        "wall_sec": round(wall, 2),
        "rows_per_sec": int(rps),
        "workers": args.workers,
        "baseline_rows_per_sec": int(BASELINE_ROWS_PER_SEC),
        "speedup_vs_baseline": round(rps / BASELINE_ROWS_PER_SEC, 2),
        "loadavg": round(os.getloadavg()[0], 2),
        "steal_s": round(stolen, 2),
        "quiet": stolen_share({"steal_s": stolen, "wall_s": wall}) < QUIET_STEAL_SHARE,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
