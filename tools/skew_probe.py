"""Hot-key skew stress: measure the salting defenses on a DELIBERATELY
skewed dataset, not the testdata's uniform replicas.

The sf ladder (SCALING.md) proves the engine's plans scale on well-behaved
keys; this probe proves the skew story (VERDICT r9 next-round #7): a
synthetic events table whose hottest user owns ~40% of all rows and whose
hottest event_type owns ~80% — the regime where a 1000-executor job sits
at 999 idle executors waiting for one straggler reducer. Three questions,
each answered by an A/B wall at matched data:

* aggregation: plain groupBy(event_type) vs salted_count_sum — Spark's
  map-side partial aggregation already bounds this for algebraic aggs, so
  the A/B DOCUMENTS that salting is a wash here (the operator exists for
  high-cardinality-state aggs; claiming a win Spark already banked would
  be false advertising);
* shuffle join on the skewed key: sort-merge join (AQE skew split OFF) vs
  the same join with AQE's runtime skew-partition split vs the explicit
  8-way salt+replicate join — the production defense when the dim can't
  broadcast.

Prints one JSON line with every variant's best wall, the ratios between
them, and ``steal_s``/``quiet``: the CPU seconds the hypervisor stole over
all the timed variants and whether that stayed under perfbench's
QUIET_STEAL_SHARE — the same host-noise signal as bench.py and
pivot_throughput.py.

Usage:
  python tools/skew_probe.py [--rows 20000000] [--customers 200000]
      [--passes 2] [--data-dir .scale/skew] [--keep-data]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.run import QUIET_STEAL_SHARE, stolen_share  # noqa: E402
from perfbench.trace import steal_s  # noqa: E402

HOT_USER_SHARE = 0.40   # hottest user_id owns this fraction of all events
HOT_TYPE_SHARE = 0.80   # hottest event_type owns this fraction
N_TAIL_USERS = 100_000


def generate(data_dir: str, n_rows: int, n_customers: int) -> None:
    """events: zipf-headed user_id + hot event_type; customer: uniform dim.
    Written in row-group-sized chunks so the scan splits across cores."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(data_dir, exist_ok=True)
    rng = np.random.default_rng(7)

    chunk = 2_000_000
    ev_path = os.path.join(data_dir, "events.parquet")
    schema = pa.schema([
        ("event_id", pa.int64()),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
    ])
    types = np.array(["view", "click", "purchase", "refund"])
    with pq.ParquetWriter(ev_path, schema) as w:
        done = 0
        while done < n_rows:
            n = min(chunk, n_rows - done)
            u = rng.random(n)
            # head: one user owns HOT_USER_SHARE; next 9 users split 20%;
            # tail uniform over N_TAIL_USERS.
            user = np.where(
                u < HOT_USER_SHARE,
                1,
                np.where(
                    u < HOT_USER_SHARE + 0.20,
                    2 + (rng.integers(0, 9, size=n)),
                    rng.integers(11, N_TAIL_USERS, size=n),
                ),
            ).astype(np.int64)
            t = rng.random(n)
            etype = np.where(
                t < HOT_TYPE_SHARE, types[0],
                types[1 + rng.integers(0, 3, size=n)],
            )
            tbl = pa.Table.from_arrays(
                [
                    pa.array(np.arange(done, done + n, dtype=np.int64)),
                    pa.array(user),
                    pa.array(etype.astype(str)),
                    pa.array(np.round(rng.gamma(2.0, 9.0, size=n), 2)),
                ],
                schema=schema,
            )
            w.write_table(tbl, row_group_size=1_000_000)
            done += n

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    cust = pa.Table.from_arrays(
        [
            pa.array(np.arange(1, n_customers + 1, dtype=np.int64)),
            pa.array(segs[rng.integers(0, 5, size=n_customers)].astype(str)),
        ],
        names=["c_custkey", "c_mktsegment"],
    )
    pq.write_table(cust, os.path.join(data_dir, "customer.parquet"),
                   row_group_size=250_000)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=20_000_000)
    ap.add_argument("--customers", type=int, default=200_000)
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--data-dir", default=os.path.join(REPO, ".scale", "skew"))
    ap.add_argument("--keep-data", action="store_true")
    args = ap.parse_args()

    if not (args.keep_data and os.path.isdir(args.data_dir)):
        t0 = time.time()
        generate(args.data_dir, args.rows, args.customers)
        print(f"generated {args.rows:,} skewed rows in {time.time()-t0:.1f}s",
              file=sys.stderr)

    from pyspark.sql import functions as F

    from taxi_data_datapipeline_spark.operators.skew import salted_count_sum
    from taxi_data_datapipeline_spark.session import get_spark

    spark = get_spark("skew_probe")
    ev = spark.read.parquet(os.path.join(args.data_dir, "events.parquet"))
    cust = spark.read.parquet(os.path.join(args.data_dir, "customer.parquet"))

    def sink(df):
        df.write.format("noop").mode("overwrite").save()

    def agg_plain():
        sink(ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        ))

    def agg_salted():
        sink(salted_count_sum(ev, keys=["event_type"], sum_col="value"))

    def skew_join_df():
        # The join carries `value` (random doubles) through the shuffle:
        # AQE's skew detection reads COMPRESSED map-output partition
        # sizes, and a hot partition that is millions of copies of ONE
        # key with no payload lz4-compresses to almost nothing — the r10
        # probe's "inert below threshold" finding was partly this (the
        # planner literally could not see the skew in bytes). An
        # incompressible payload makes the bytes tell the truth.
        return (
            ev.select("user_id", "value")
            .join(cust.hint("merge"), ev.user_id == cust.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        )

    def join_smj_noaqe_skew():
        # AQE ON but its skew-split disabled: the naive plan a non-adaptive
        # engine is stuck with.
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        try:
            sink(skew_join_df())
        finally:
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    def join_smj_aqe_skew():
        # Spark's built-in runtime defense: AQE splits the oversized
        # shuffle partition and replicates the matching dim side.
        sink(skew_join_df())

    # Whether the forced-split variant's final adaptive plan actually
    # contains a skew=true SMJ — the r10 stress proved the split INERT
    # below its 256 MB default threshold (a negative result); this
    # variant lowers the threshold so the first-line production defense
    # executes in its own regime at least once (VERDICT r10 missing #3).
    aqe_skew_fired = {"fired": False}

    def join_smj_aqe_forced_split():
        overrides = {
            # hot partition at this data size is ~tens of (incompressible)
            # MB — under the 256 MB default; 4 MB puts it over the bar.
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
            # The groupBy above the join makes OptimizeSkewedJoin count as
            # "introduces extra shuffle", so the conservative pass skips
            # it; force is the documented knob for exactly this shape.
            "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        }
        saved = {k: spark.conf.get(k) for k in overrides}
        for k, v in overrides.items():
            spark.conf.set(k, v)
        try:
            df = skew_join_df()
            sink(df)
            if not aqe_skew_fired["fired"]:
                # The noop sink runs its OWN QueryExecution, whose final
                # adaptive plan isn't reachable from df — run the 5-row
                # aggregate once through collect() and read THAT plan.
                df.collect()
                plan = df._jdf.queryExecution().executedPlan().toString()
                aqe_skew_fired["fired"] = (
                    "skew=true" in plan or "AQEShuffleRead skewed" in plan
                )
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)

    def join_salted():
        n_salt = 8
        ev_s = ev.select("user_id", "value", "event_id").withColumn(
            "salt", F.pmod(F.hash("event_id"), F.lit(n_salt))
        )
        c_s = cust.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
        )
        sink(
            ev_s.join(
                c_s.hint("shuffle_hash"),
                (ev_s.user_id == c_s.c_custkey) & (ev_s.salt == c_s.salt),
            )
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        )

    variants = {
        "agg_plain_groupby": agg_plain,
        "agg_salted_16": agg_salted,
        "join_smj_skewsplit_off": join_smj_noaqe_skew,
        "join_smj_aqe_skewsplit": join_smj_aqe_skew,
        "join_smj_aqe_forced_split": join_smj_aqe_forced_split,
        "join_salted_8": join_salted,
    }

    steal0, t_all = steal_s(), time.time()
    walls: dict[str, float] = {}
    for name, fn in variants.items():
        fn()  # warm (codegen + scan cache) — skew effects survive warmth
        best = float("inf")
        for _ in range(args.passes):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        walls[name] = round(best, 2)
        print(f"{name}: {walls[name]} s", file=sys.stderr)
    stolen, wall_all = steal_s() - steal0, time.time() - t_all

    result = {
        "metric": "skew_stress_walls",
        "rows": args.rows,
        "hot_user_share": HOT_USER_SHARE,
        "hot_type_share": HOT_TYPE_SHARE,
        "walls_sec": walls,
        "agg_salted_over_plain": round(
            walls["agg_salted_16"] / walls["agg_plain_groupby"], 2),
        "join_aqe_over_skewed_smj": round(
            walls["join_smj_aqe_skewsplit"] / walls["join_smj_skewsplit_off"], 2),
        "join_aqe_forced_split_over_skewed_smj": round(
            walls["join_smj_aqe_forced_split"] / walls["join_smj_skewsplit_off"], 2),
        "aqe_skew_split_fired": aqe_skew_fired["fired"],
        "join_salted_over_skewed_smj": round(
            walls["join_salted_8"] / walls["join_smj_skewsplit_off"], 2),
        "passes": args.passes,
        "loadavg": round(os.getloadavg()[0], 2),
        "steal_s": round(stolen, 2),
        "quiet": stolen_share({"steal_s": stolen, "wall_s": wall_all}) < QUIET_STEAL_SHARE,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
