"""clear_memos() and the ``shared`` memo store behind it.

The heavy shared builds (co-purchase pair table, LSH pairs, CF-eval
frames, ...) localCheckpoint into the unified memory pool and stay
pinned for the session's lifetime. A long-lived session that switches
datasets accumulates every dataset's blocks until executions die with
UNABLE_TO_ACQUIRE_MEMORY (observed live: the sf6 pair-table build OOMed
under the sf3 memo's residency during the round-10 scale ladder).
clear_memos() releases the blocks and the cache entries; subsequent
consumers rebuild transparently with identical results.

Every build goes through ``queries.shared``: one store keyed by
(session object, sf_dir, name, *params), with a per-key lock so
concurrent callers share one build.
"""

from __future__ import annotations

import sys
import threading

import pytest

from taxi_data_datapipeline_spark import queries
from taxi_data_datapipeline_spark.queries import QUERIES, clear_memos, shared
from taxi_data_datapipeline_spark import queries_advanced, queries_data  # noqa: E402  (after the registry orchestrator — direct first import would cycle)

SF = "/root/testdata/sf0.001"


def _edge_cache_keys():
    return [k for k in list(queries._MEMO) if k[2] == "copurchase_pair_counts"]


def test_clear_memos_releases_and_rebuilds_identically(spark):
    rows_before = QUERIES["pagerank_copurchase"](spark, SF).collect()
    assert _edge_cache_keys(), "memo should be populated after a consumer ran"

    released = clear_memos()
    assert released >= 1
    assert not _edge_cache_keys()

    # consumer rebuilds transparently, bit-identical results
    rows_after = QUERIES["pagerank_copurchase"](spark, SF).collect()
    assert sorted(map(tuple, rows_before)) == sorted(map(tuple, rows_after))


def test_clear_memos_is_selective_by_sf_dir(spark):
    QUERIES["pagerank_copurchase"](spark, SF).count()
    assert any(k[1] == SF for k in _edge_cache_keys())
    # clearing a DIFFERENT dataset's entries leaves this one resident
    assert clear_memos("/nonexistent/sf") == 0
    assert any(k[1] == SF for k in _edge_cache_keys())
    # clearing this dataset removes exactly its entries
    assert clear_memos(SF) >= 1
    assert not any(k[1] == SF for k in _edge_cache_keys())


def test_clear_memos_empty_is_noop():
    clear_memos()  # drain
    assert clear_memos() == 0


def test_clear_memos_tolerates_concurrent_pop(monkeypatch):
    """ADVICE r10: two racing clear_memos() calls — a pop of a key already
    removed between the list() snapshot and the pop must be skipped, not
    raise KeyError (and must not count as released)."""
    clear_memos()  # drain the real store so only the shim has entries

    class RacingDict(dict):
        def pop(self, k, *default):
            dict.pop(self, k, None)  # the racing clear got here first
            return dict.pop(self, k, *default)

    racing = RacingDict({("session", SF, "probe"): object()})
    monkeypatch.setattr(queries, "_MEMO", racing)
    assert clear_memos() == 0  # the pop lost the race: skipped, no KeyError
    assert not racing


def test_concurrent_callers_share_one_build(spark, monkeypatch):
    """Late callers wait on the key's lock for the first build instead
    of running their own (this memo used to race benignly into
    redundant builds)."""
    clear_memos()
    calls = []
    real = queries_data.blocked_jaccard_pairs

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(queries_data, "blocked_jaccard_pairs", counting)
    results = []
    start = threading.Barrier(4)

    def grab():
        start.wait()
        results.append(queries_data.blocked_pairs_cached(spark, SF))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        threads = [threading.Thread(target=grab) for _ in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert len(results) == 4 and all(r is results[0] for r in results)


def test_failed_build_stores_nothing(spark):
    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        shared(spark, SF, "failing_probe", boom)
    assert not [k for k in list(queries._MEMO) if k[2] == "failing_probe"]

    builds = []

    def ok():
        builds.append(1)
        return "built"

    assert shared(spark, SF, "failing_probe", ok) == "built"
    assert shared(spark, SF, "failing_probe", ok) == "built"
    assert len(builds) == 1
    clear_memos()


def test_clone_built_frame_never_served_to_parent(spark):
    """Session clones share the applicationId; a frame built under one
    is bound to it and must not be served to the parent."""
    clone = spark.newSession()
    from_clone = queries_advanced._copurchase_pair_counts(clone, SF)
    from_parent = queries_advanced._copurchase_pair_counts(spark, SF)
    assert from_clone.sparkSession is clone
    assert from_parent.sparkSession is spark
    clear_memos()
