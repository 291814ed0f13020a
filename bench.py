"""Benchmark runner: times every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
SHORT JSON line: {"metric": ..., "value": wall_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

The stdout line must survive tail-capture by the driver (which keeps only
the last ~2KB), so the "queries" map on stdout is capped to the slowest
entries; the FULL per-query map is written to bench_detail.json next to
this file (and echoed to stderr).

Each query is forced end-to-end with the noop sink (full execution, no
driver-side collect cost), after a warm-up pass of the flagship query to
amortize JVM/codegen start-up out of the numbers.

Queries are submitted from $SPARK_GRAFT_BENCH_PAR driver threads
(default 12, set 1 for the old serial mode): at sf0.1 most of a serial
run is per-job planning / scheduling overhead, so a real engine overlaps
queries — Spark's scheduler interleaves jobs from concurrent threads
natively. `value` is the honest wall-clock of the whole timed section;
per-query numbers are measured under that concurrency (contended,
sum > wall) and reported as the MIN across passes — the same load-robust
estimator as the headline wall, so the published per-query detail
survives neighbor-tenant bursts that hit one pass but not another.

Load robustness (this is a shared virtual machine): the headline is the
minimum over up to $SPARK_GRAFT_BENCH_MAX_RUNS passes, stopping early once
the two fastest walls agree within 10% and the fastest pass lost less than
perfbench's QUIET_STEAL_SHARE of the machine's CPU to hypervisor steal
(see ``converged``). Only the passes with the fewest failed queries are
ranked (see ``ranked_passes``): a pass in which queries fail fast is quick,
so its wall is no record. The reported pass's failures are the published
``n_errors``/``errors``. Every pass records its start loadavg, its steal
delta and its failure count, so an inflated wall is auditable as host noise
rather than a plan regression.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as e
from taxi_data_datapipeline_spark.session import get_spark
from perfbench.run import QUIET_STEAL_SHARE, stolen_share
from perfbench.trace import steal_s


def ranked_passes(passes: list[dict]) -> list[dict]:
    """The passes with the fewest failed queries, fastest first: a pass in
    which queries fail fast (a refused socket, say) is quick, so it never
    outranks a pass that ran more of them."""
    least = min((len(p["errors"]) for p in passes), default=0)
    return sorted(
        (p for p in passes if len(p["errors"]) == least), key=lambda p: p["wall_s"]
    )


def converged(passes: list[dict]) -> bool:
    """True once the two fastest ranked walls agree within 10% and the
    fastest pass was quiet: two passes that lost the same CPU to steal also
    agree, so agreement alone does not show the minimum is reproduced."""
    ranked = ranked_passes(passes)
    if len(ranked) < 2:
        return False
    fastest, runner_up = ranked[:2]
    return (
        runner_up["wall_s"] <= 1.10 * fastest["wall_s"]
        and stolen_share(fastest) < QUIET_STEAL_SHARE
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    par = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PAR", "12")))  # swept 6-16 on local[32]: 12 min-wall (8 underlaps the long tail, 16 oversubscribes)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("bench")
    qs = e.queries()

    # Warm-up: JVM JIT, codegen cache, parquet footer cache, and the
    # memoized source loads.
    qs["hourly_pivot"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Streaming queries drain AvailableNow triggers with their own sinks
    # and checkpoints; they run in a separate (smaller) pool beside the
    # batch pool so their state-store setup doesn't contend with the
    # batch burst, but still overlap each other.
    serial = {n for n in qs if n.startswith("streaming_")}

    # Longest-processing-time-first: launching the known-heavy queries
    # before the sub-second tail keeps the pool busy to the end instead
    # of finishing on a lone 5 s straggler (classic LPT makespan cut).
    slow_first = [
        "pagerank_copurchase", "minhash_lsh_dedup",
        "logistic_gd", "pq_encode",
        "kmeans_iterate", "table_profile",
        "theil_sen_slope", "spearman_price_qty", "pca_power_iteration",
        "rake_keywords",
        "simhash_pairs", "contamination_check",
        "kmeans_units", "simhash_pairs_checked", "embedding_ivf_topk",
        "multimodal_features_checked", "zipf_fit",
        "ngram_jaccard_blocked", "bigram_surprisal", "similarity_join_label",
        "stats_moments", "q21_waiting_supplier", "q1_pricing_summary",
        "basket_similarity_join",
    ]

    def one_pass() -> tuple[float, dict[str, float], dict[str, str]]:
        times: dict[str, float] = {}
        errors: dict[str, str] = {}

        def run(name: str) -> None:
            t0 = time.time()
            try:
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                times[name] = round(time.time() - t0, 3)
            except Exception as ex:  # one broken query must not kill the suite
                errors[name] = str(ex).split("\n")[0][:200]

        wall0 = time.time()
        batch = [n for n in qs if n not in serial]
        rank = {n: i for i, n in enumerate(slow_first)}
        batch.sort(key=lambda n: rank.get(n, len(slow_first)))
        if par == 1:
            for name in batch:
                run(name)
            for name in sorted(serial):
                run(name)
        else:
            # The streaming pool OVERLAPS the batch pool instead of
            # running after it: at sf0.1 the streaming chain is ~12 s of
            # mostly micro-batch coordination latency (not CPU), and
            # running it strictly after the batch phase added its full
            # wall to the suite (73 s = 48 s batch + 12 s streaming +
            # sched at r8). At sf1 each drain is 30-120 s of real CPU
            # and the overlap inflates per-query times ~2x via 16-way
            # oversubscription — but a same-day A/B still favors it on
            # WALL (424 s overlapped vs 521 s phase-separated: the
            # separated run's 4-way streaming tail packs poorly).
            # Streaming stays capped at 4 concurrent drains — the
            # state-store setup burst is what contended historically.
            with ThreadPoolExecutor(max_workers=par) as pool, \
                    ThreadPoolExecutor(max_workers=min(4, par)) as spool:
                sfut = [spool.submit(run, n) for n in sorted(serial)]
                list(pool.map(run, batch))
                for f in sfut:
                    f.result()
        return round(time.time() - wall0, 3), times, errors

    # Repeated timed passes, headline = fastest. Pass 1 pays every query's
    # one-time whole-stage-codegen compile (~1-2 s each, overlapped across
    # the pool); later passes measure the warm engine. The hypervisor can
    # take CPU time away in bursts, so the harness is load-robust by
    # construction:
    #   * min-of-N passes with a convergence early-stop — keep running
    #     (up to SPARK_GRAFT_BENCH_MAX_RUNS) until ``converged``: among the
    #     passes with the fewest failed queries, the two fastest walls
    #     agree within 10% and the fastest pass was quiet;
    #   * every pass is annotated with the 1-min kernel loadavg at start
    #     and the CPU seconds stolen during it, published in both JSON
    #     outputs so an inflated pass is auditable as host noise rather
    #     than a plan regression.
    n_min = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    n_max = max(n_min, int(os.environ.get("SPARK_GRAFT_BENCH_MAX_RUNS", "4")))
    # Total-time guard: never start a pass that could push the run past
    # the budget (an external harness timeout would lose the JSON line
    # entirely, which is worse than a 2-pass number under load). The
    # budget clock starts AFTER pass 1 — the first pass pays every
    # query's one-time codegen compile and is never the published wall
    # anyway, so it is warmup, not measurement (r5: a 150 s cold pass ate
    # the whole budget before any warm pass ran).
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "420"))
    t_start = time.time()
    passes: list[dict] = []
    loads: list[float] = []
    # Per-query numbers are the MIN ACROSS PASSES, not a snapshot of the
    # best-wall pass: a pass's wall can be fine while one query inside it
    # was preempted by a neighbor-tenant burst (r4 recorded theil_sen_slope
    # at 11.6 s in the published detail vs ~4 s warm). The per-query min is
    # the same load-robust estimator the headline wall already uses.
    times: dict[str, float] = {}
    t_budget0 = t_start  # reset to pass-1 end once it completes
    for i in range(n_max):
        loads.append(round(os.getloadavg()[0], 1))
        steal0 = steal_s()
        wall_s, pass_times, errors = one_pass()
        passes.append({"wall_s": wall_s, "steal_s": round(steal_s() - steal0, 2),
                       "errors": errors})
        if i == 0:
            t_budget0 = time.time()
        for n, t in pass_times.items():
            if t < times.get(n, float("inf")):
                times[n] = t
        if i + 1 >= n_min and converged(passes):
            break  # fastest wall reproduced within 10% on a quiet host
        best = ranked_passes(passes)[0]["wall_s"]
        if time.time() - t_budget0 + best > budget:
            break  # another pass would risk the harness timeout
        # Absolute ceiling from process start: the warmup exclusion must
        # never compound past 2x the nominal budget.
        if time.time() - t_start + best > 2.0 * budget:
            break
    fastest = ranked_passes(passes)[0]
    wall = fastest["wall_s"]
    errors = fastest["errors"]
    host = {
        "walls": [p["wall_s"] for p in passes],
        "loadavg_at_pass_start": loads,
        "steal_s": [p["steal_s"] for p in passes],
        "errors_per_pass": [len(p["errors"]) for p in passes],
        # Whether the REPORTED pass ran on a quiet host; a wall
        # from a stolen pass is an upper bound, not a record.
        "quiet": stolen_share(fastest) < QUIET_STEAL_SHARE,
    }

    detail = {
        "metric": "operator_suite_wall_seconds",
        "value": wall,
        "unit": "sec",
        **host,
        "queries": {n: times[n] for n in qs if n in times},
        "sf": sf,
        "parallelism": par,
        "sum_query_seconds": round(sum(times.values()), 3),
    }
    if errors:
        detail["errors"] = errors
    here = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(here, "bench_detail.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(detail), file=sys.stderr)

    # Headline for stdout: keep the line SHORT (driver tail-capture keeps
    # ~2KB) — slowest queries only; full map lives in bench_detail.json.
    slowest = dict(sorted(times.items(), key=lambda kv: -kv[1])[:12])
    out = {
        "metric": "operator_suite_wall_seconds",
        "value": wall,
        "unit": "sec",
        **host,
        "queries": slowest,
        "sf": sf,
        "parallelism": par,
        "n_queries": len(times),
        "n_errors": len(errors),
        "sum_query_seconds": round(sum(times.values()), 3),
        "detail": "bench_detail.json",
    }
    line = json.dumps(out)
    if len(line) > 1800:  # belt-and-braces: never exceed the capture window
        out.pop("queries", None)
        line = json.dumps(out)
    print(line)


if __name__ == "__main__":
    main()
