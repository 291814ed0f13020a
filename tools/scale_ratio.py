"""sf0.1 -> sf1 scale validation: time each query at both scale factors
and report the wall ratio against 10x data.

The sf0.1 bench cannot see super-linear candidate/pair growth (VERDICT
r4 §missing #3); this probe can. Queries run SERIALLY (min of
``--passes`` timed passes after one warm-up) so each number is a clean
single-query wall, with loadavg annotations per query for audit. The
output also carries ``steal_s``/``quiet``: the CPU seconds the hypervisor
stole over the whole ladder and whether that stayed under perfbench's
QUIET_STEAL_SHARE. On a stolen run trust the RATIOS (both sides ran under
the same host) over the absolute seconds.

A family is scale-clean when ratio <= ~15 at 10x data (headroom over
linear for fixed overheads + O(n log n) sorts); documented-quadratic
shapes (e.g. pairwise similarity with bounded blocking) are judged
against their stated complexity instead.

Usage:
  python tools/scale_ratio.py --top 20              # slowest from bench_detail.json
  python tools/scale_ratio.py q1_pricing_summary …  # explicit names
Writes the ``--out`` JSON (default scale_ratio.json), prints one markdown
row per query, then one JSON summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.run import QUIET_STEAL_SHARE, stolen_share
from perfbench.trace import steal_s
from taxi_data_datapipeline_spark.session import get_spark


def time_query(qs, name, spark, sf_dir, passes: int, warm: bool) -> float:
    best = float("inf")
    if warm:
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    for _ in range(passes):
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    return round(best, 2)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--top", type=int, default=0,
                    help="take the N slowest from bench_detail.json")
    ap.add_argument("--passes", type=int, default=1)
    ap.add_argument("--warm-each", action="store_true",
                    help="extra per-query warm-up pass at each SF (2x cost; "
                    "the default single-pass mode biases both SFs equally, "
                    "which cancels in the ratio)")
    ap.add_argument("--small", default="/root/testdata/sf0.1")
    ap.add_argument("--big", default=os.path.join(REPO, ".scale", "sf1"))
    ap.add_argument("--out", default="scale_ratio.json",
                    help="output JSON filename (repo-relative) — name runs "
                    "distinctly so a new run never clobbers a committed record")
    ap.add_argument("--clear-memos-per-query", action="store_true",
                    help="release BOTH datasets' memoized heavy builds after "
                    "each query (clear_memos API) — bounds peak memory on "
                    "constrained heaps at the cost of cross-query memo "
                    "sharing; timings then include each query's own build")
    args = ap.parse_args()

    import __spark_entry__ as e

    qs = e.queries()
    names = [n for n in args.names if n in qs]
    if args.top:
        with open(os.path.join(REPO, "bench_detail.json")) as fh:
            detail = json.load(fh)["queries"]
        ranked = sorted(detail, key=lambda n: -detail[n])
        for n in ranked:
            if len(names) >= args.top:
                break
            if n in qs and n not in names and not n.startswith("streaming_"):
                names.append(n)

    spark = get_spark("scale_ratio")
    # One global warm-up amortizes JVM/codegen start-up out of the first row.
    qs["hourly_pivot"](spark, args.small).write.format("noop").mode("overwrite").save()
    steal0, t0 = steal_s(), time.time()
    rows = []
    for name in names:
        load0 = round(os.getloadavg()[0], 1)
        try:
            t_small = time_query(qs, name, spark, args.small, args.passes, args.warm_each)
            t_big = time_query(qs, name, spark, args.big, args.passes, args.warm_each)
        except Exception as ex:
            rows.append({"query": name, "error": str(ex).split("\n")[0][:160]})
            print(f"| {name} | ERROR | | | {rows[-1]['error']} |", flush=True)
            continue
        if args.clear_memos_per_query:
            from taxi_data_datapipeline_spark.queries import clear_memos

            clear_memos()
        ratio = round(t_big / t_small, 1) if t_small > 0 else None
        rows.append(
            {
                "query": name,
                "sf0.1_sec": t_small,
                "sf1_sec": t_big,
                "ratio": ratio,
                "loadavg": load0,
            }
        )
        print(f"| {name} | {t_small} | {t_big} | {ratio} | load {load0} |", flush=True)

    stolen, wall = steal_s() - steal0, time.time() - t0
    out = {
        "small": args.small,
        "big": args.big,
        "passes": args.passes,
        "rows": rows,
        "steal_s": round(stolen, 2),
        "quiet": stolen_share({"steal_s": stolen, "wall_s": wall}) < QUIET_STEAL_SHARE,
    }
    with open(os.path.join(REPO, args.out), "w") as fh:
        json.dump(out, fh, indent=1)
    worst = max((r.get("ratio") or 0) for r in rows) if rows else 0
    print(json.dumps({"n": len(rows), "worst_ratio": worst}))


if __name__ == "__main__":
    main()
