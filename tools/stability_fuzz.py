"""Partitioning-stability fuzz: every registered query must produce an
IDENTICAL order-insensitive value hash under different
``spark.sql.shuffle.partitions`` settings.

This is the mechanical check behind SCALING.md's core claim — results
that are bit-identical regardless of partitioning are what make the
engine's answers reproducible between local[32] and a 1000-executor
cluster, and what the exact-arithmetic conventions (decimal sums,
fixed-point iteration, explicit tie-breaks) exist to guarantee. A query
that fails here has a latent nondeterminism (float fold order, an
unbroken tie, an arbitrary survivor) that the single-setting oracle gate
can miss.

Usage: python tools/stability_fuzz.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_oracle import frame_hash  # noqa: E402

import __spark_entry__ as e  # noqa: E402
from taxi_data_datapipeline_spark.queries import clear_memos  # noqa: E402
from taxi_data_datapipeline_spark.session import get_spark  # noqa: E402

# (shuffle partitions, scan split size, AQE): vary the reduce-side
# partitioning, the map-side split geometry, AND whether adaptive
# execution re-plans at runtime — a query whose answer survives all
# three is insensitive to cluster geometry and to the optimizer's
# runtime choices (coalescing, skew splits, join-strategy switches).
PARTITION_SETTINGS = (("32", "128m", "true"), ("7", "1m", "false"))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("stability_fuzz")
    qs = e.queries()
    if only:
        qs = {n: f for n, f in qs.items() if n in only}
    bad = []
    t0 = time.time()
    for i, (name, fn) in enumerate(qs.items()):
        hashes = []
        try:
            for parts, split, aqe in PARTITION_SETTINGS:
                # A memo built under the previous setting would be served
                # as-is, leaving the shared builds unfuzzed.
                clear_memos()
                spark.conf.set("spark.sql.shuffle.partitions", parts)
                spark.conf.set("spark.sql.files.maxPartitionBytes", split)
                spark.conf.set("spark.sql.adaptive.enabled", aqe)
                df = fn(spark, sf_dir)
                hashes.append(
                    frame_hash(df.columns, [tuple(r) for r in df.collect()])
                )
        except Exception as ex:  # noqa: BLE001
            bad.append((name, f"error: {ex}"))
            continue
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
            spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        if len(set(hashes)) != 1:
            bad.append((name, "hash unstable across partition counts"))
        if (i + 1) % 25 == 0:
            print(f"{i + 1}/{len(qs)} checked ({time.time() - t0:.0f}s)", flush=True)
    print(f"\n{len(qs)} queries, {len(bad)} unstable/errored")
    for name, why in bad:
        print("FAIL", name, why[:300])
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
