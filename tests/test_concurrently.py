"""``session.concurrently``: the package's one worker pool. Calls run
side by side and see the caller's Spark local properties and
contextvars; results and errors come back in item order."""

from __future__ import annotations

import threading
import time
import uuid
from contextvars import ContextVar

import pytest

from dlt_salesforce_iceberg_rest_demo_spark.operators.materialize import materialize, scope
from dlt_salesforce_iceberg_rest_demo_spark.session import WORKERS, concurrently

_caller: ContextVar[str | None] = ContextVar("caller", default=None)


def _persistent(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


class TestConcurrently:
    def test_results_come_back_in_item_order(self, spark):
        def square_late_first(i):
            time.sleep(0.05 * (4 - i))  # later items finish first
            return i * i

        assert concurrently(square_late_first, range(5)) == [0, 1, 4, 9, 16]

    def test_calls_run_side_by_side(self, spark):
        barrier = threading.Barrier(4, timeout=30)
        concurrently(lambda _: barrier.wait(), range(4))

    def test_every_item_runs_before_the_first_failure_is_raised(self, spark):
        done, lock = [], threading.Lock()

        def fn(i):
            if i == 3:
                raise ValueError("item 3")  # fails first in time
            time.sleep(0.2)
            if i == 1:
                raise ValueError("item 1")  # fails first in item order
            with lock:
                done.append(i)

        with pytest.raises(ValueError, match="item 1") as err:
            concurrently(fn, range(6))
        assert sorted(done) == [0, 2, 4, 5]
        assert any("item 3" in note for note in err.value.__notes__)

    def test_caller_job_group_tags_the_jobs_of_a_call(self, spark):
        sc = spark.sparkContext
        group = f"concurrently-{uuid.uuid4().hex}"
        main = threading.get_ident()

        def count(n):
            assert threading.get_ident() != main
            return spark.range(n).count()

        sc.setJobGroup(group, "caller")
        try:
            assert concurrently(count, [10, 20, 30]) == [10, 20, 30]
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) >= 3

    def test_caller_context_var_is_visible_in_a_call(self, spark):
        token = _caller.set("caller")
        try:
            assert concurrently(lambda _: _caller.get(), range(3)) == ["caller"] * 3
        finally:
            _caller.reset(token)

    def test_caller_scope_owns_what_a_call_materializes(self, spark):
        before = _persistent(spark)
        with scope():
            made = concurrently(lambda n: materialize(spark.range(n)), [3, 4])
            ids = {ck._jdf.queryExecution().analyzed().rdd().id() for ck in made}
            assert ids <= _persistent(spark)
        assert _persistent(spark) <= before

    def test_no_more_than_workers_threads(self, spark):
        def ident(_):
            time.sleep(0.01)
            return threading.get_ident()

        assert len(set(concurrently(ident, range(WORKERS + 5)))) <= WORKERS

    def test_zero_or_one_item_runs_in_the_caller_thread(self):
        main = threading.get_ident()
        assert concurrently(lambda _: threading.get_ident(), []) == []
        assert concurrently(lambda _: threading.get_ident(), ["x"]) == [main]
