"""Failure paths and property inheritance of ``concurrency.overlap``: the
scope joins every task on exit, raises errors in a fixed order, hands the
caller's job group to its threads and nests without deadlock."""

from __future__ import annotations

import threading
import time

import pytest

from real_time_stock_market_data_pipeline_spark.concurrency import overlap


def _drain_listener_bus(sc) -> None:
    # the status tracker is fed by the listener bus; drain it so a job
    # that has ended is no longer reported active
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def test_body_error_surfaces_after_joining_running_spark_work(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def slow_job():
        return (
            sc.parallelize(range(2), 2)
            .map(lambda x: (time.sleep(1.0), x)[1])
            .count()
        )

    with pytest.raises(RuntimeError, match="body failed") as err:
        with overlap() as o:
            h = o.submit("test/slow", slow_job)
            deadline = time.monotonic() + 30
            while not tracker.getActiveJobsIds():
                assert time.monotonic() < deadline, "slow job never started"
                time.sleep(0.02)
            raise RuntimeError("body failed")
    assert type(err.value) is RuntimeError  # the body's own error object
    _drain_listener_bus(sc)
    assert list(tracker.getActiveJobsIds()) == []
    assert h.result() == 2  # joined, ran to completion


def test_first_submitted_failure_wins_over_first_finished(spark):
    second_failed = threading.Event()

    def first():
        assert second_failed.wait(30)
        raise ValueError("first submitted")

    def second():
        try:
            raise KeyError("second submitted")
        finally:
            second_failed.set()

    with pytest.raises(ValueError, match="first submitted"):
        with overlap() as o:
            o.submit("test/first", first)
            h2 = o.submit("test/second", second)
    with pytest.raises(KeyError):
        h2.result()


def test_tasks_inherit_job_group_and_carry_their_name(spark):
    sc = spark.sparkContext
    group = f"test-overlap-{time.time_ns()}"
    sc.setJobGroup(group, "caller")
    try:
        with overlap() as o:
            h = o.submit("test/described", lambda: spark.range(10).count())
        assert h.result() == 10
        # the scope leaves the caller's own properties alone
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobGroup(None, None)
    _drain_listener_bus(sc)
    ids = list(sc.statusTracker().getJobIdsForGroup(group))
    assert ids, "the task's jobs did not inherit the caller's job group"
    store = sc._jsc.sc().statusStore()
    for jid in ids:
        job = store.job(jid)
        assert job.jobGroup().get() == group
        assert job.description().get() == "test/described"


def test_nested_scopes_do_not_deadlock(spark):
    # all nine inner tasks must be alive at once (18 threads with their
    # outer tasks): a bounded shared pool would break the barrier
    barrier = threading.Barrier(9, timeout=60)

    def inner(i):
        barrier.wait()
        return spark.range(i + 1).count()

    def outer(i):
        with overlap() as o:
            h = o.submit(f"test/outer{i}/inner", inner, i)
        return h.result()

    with overlap() as o:
        hs = [o.submit(f"test/outer{i}", outer, i) for i in range(9)]
    assert [h.result() for h in hs] == list(range(1, 10))
