"""Warm SERIAL per-query profiler: isolates each query's compute with the
noop sink (guide §1.4), one at a time on the full local core count, min of
N warm passes after a cold pass — the contended bench numbers can't
attribute time to a plan, this can. Every pass starts from
``clear_memos()``, as perfbench's ``query_mix`` does, so a memo consumer's
warm passes rebuild its memo instead of reading the cold pass's.

Usage:
  python tools/warm_profile.py out.json query1 [query2 ...]
  python tools/warm_profile.py out.json --top N     # N slowest from bench_detail.json
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS,
     SPARK_GRAFT_WARM_PASSES (default 2).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as e
from taxi_data_datapipeline_spark.queries import clear_memos
from taxi_data_datapipeline_spark.session import get_spark


def main() -> None:
    out_path = sys.argv[1]
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if sys.argv[2] == "--top":
        with open(os.path.join(here, "bench_detail.json")) as f:
            detail = json.load(f)
        names = [
            n for n, _ in sorted(
                detail["queries"].items(), key=lambda kv: -kv[1]
            )[: int(sys.argv[3])]
        ]
    else:
        names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    passes = int(os.environ.get("SPARK_GRAFT_WARM_PASSES", "2"))
    spark = get_spark("warm_profile")
    qs = e.queries()
    # Session-level warmup (JVM, codegen, parquet footers).
    qs["hourly_pivot"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    res: dict[str, dict] = {}
    for n in names:
        spark.sparkContext.setJobDescription(f"warm_profile:{n}")
        walls = []
        for i in range(passes + 1):  # pass 0 = this query's own codegen warmup
            clear_memos()
            t0 = time.time()
            qs[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
            walls.append(round(time.time() - t0, 3))
        res[n] = {"cold": walls[0], "warm_min": min(walls[1:]), "walls": walls}
        print(json.dumps({n: res[n]}), flush=True)
    rec = {
        "sf_dir": sf_dir,
        "loadavg": round(os.getloadavg()[0], 1),
        "passes": passes,
        "queries": res,
    }
    with open(out_path, "w") as f:
        json.dump(rec, f, indent=1)


if __name__ == "__main__":
    main()
