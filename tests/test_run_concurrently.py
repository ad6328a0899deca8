"""``execution.run_concurrently``: the one helper that submits
independent Spark job chains on their own threads."""

import threading
import time

import pytest

from connect_server_spark.execution import run_concurrently


def test_results_come_back_in_submission_order():
    # later thunks finish first; the results still follow submission
    def thunk(i):
        def run():
            time.sleep(0.05 * (4 - i))
            return i

        return run

    assert run_concurrently(*(thunk(i) for i in range(5))) == [0, 1, 2, 3, 4]
    assert run_concurrently() == []


def test_failure_reraises_only_after_every_thunk_finished():
    """Thunk 1 raises while thunk 2 is still sleeping: the raise reaches
    the caller only after thunk 2's side effect happened, and of two
    failures the first in submission order is the one re-raised."""
    done = threading.Event()

    def fails():
        raise RuntimeError("first")

    def sleeps_then_writes():
        time.sleep(0.3)
        done.set()

    def fails_later():
        time.sleep(0.1)
        raise ValueError("second")

    with pytest.raises(RuntimeError, match="first") as info:
        run_concurrently(fails, sleeps_then_writes, fails_later)
    assert done.is_set()
    # the later failure is not swallowed: it rides along as a note
    assert any("second" in note for note in info.value.__notes__)


def test_thunks_see_the_callers_local_properties(spark):
    sc = spark.sparkContext
    sc.setLocalProperty("connect_server.test.marker", "outer")
    try:
        seen = run_concurrently(
            lambda: sc.getLocalProperty("connect_server.test.marker"),
            lambda: sc.getLocalProperty("connect_server.test.marker"),
        )
    finally:
        sc.setLocalProperty("connect_server.test.marker", None)
    assert seen == ["outer", "outer"]
