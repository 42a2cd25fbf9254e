"""Focused units for the r15 optimization internals: `_run_staged`
(concurrent staged-write execution inside a mutation leg — guide §2.6)
must run every thunk, propagate failures, and degrade to a plain call
for a single thunk.  The store-content consequences of using it (byte-
identical pinned files, manifest correctness, serve parity) are locked
by the existing test_vectorstore / test_pin_lifecycle / test_parity
suites; these units pin the helper's own contract."""

import threading

import pytest

from intellect_bi_spark.operators.retrieval import _run_staged


def test_run_staged_runs_every_thunk():
    done = []
    lock = threading.Lock()

    def mk(i):
        def t():
            with lock:
                done.append(i)

        return t

    _run_staged(*[mk(i) for i in range(4)])
    assert sorted(done) == [0, 1, 2, 3]


def test_run_staged_propagates_the_failure():
    done = []

    def ok():
        done.append("ok")

    def boom():
        raise ValueError("staged write failed")

    with pytest.raises(ValueError, match="staged write failed"):
        _run_staged(ok, boom)
    # the publish-gated contract: the surviving thunk may or may not
    # have completed (both are just unpublished staged debris), but the
    # failure must reach the caller so no publish happens
    assert done in ([], ["ok"])


def test_run_staged_single_thunk_runs_inline():
    tid = []
    _run_staged(lambda: tid.append(threading.get_ident()))
    assert tid == [threading.get_ident()]


def test_run_staged_returns_results_in_argument_order():
    assert _run_staged(lambda: 1, lambda: 2, lambda: 3) == [1, 2, 3]
    assert _run_staged(lambda: "only") == ["only"]


def test_concurrent_run_staged_calls_use_distinct_pools(spark):
    """Two mutations staging at once (the concurrent chains of one
    query) must not share FAIR pools: every thunk of both calls runs
    in a pool of its own."""
    sc = spark.sparkContext
    all_running = threading.Barrier(4, timeout=30)
    pools = []
    lock = threading.Lock()

    def thunk():
        all_running.wait()
        with lock:
            pools.append(sc.getLocalProperty("spark.scheduler.pool"))

    callers = [
        threading.Thread(target=_run_staged, args=(thunk, thunk))
        for _ in range(2)
    ]
    for t in callers:
        t.start()
    for t in callers:
        t.join(60)
    assert len(pools) == 4 and len(set(pools)) == 4, pools
