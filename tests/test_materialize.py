"""The materialization module and its per-query scope.

- Every eager checkpoint and every observed metric in the package goes
  through ``operators/materialize.py`` (AST check).
- A query build leaves persistent only the blocks its returned plan
  reads (registry sweep): anything else is a leak that only GC would
  free.
- The scope's rules in isolation: unread blocks freed, read blocks
  kept, everything freed when the build raises, kept blocks handed to
  an enclosing scope, no JVM traffic when nothing was materialized.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import dlt_salesforce_iceberg_rest_demo_spark as pkg
from dlt_salesforce_iceberg_rest_demo_spark.operators.materialize import (
    materialize,
    release,
    scope,
)
from dlt_salesforce_iceberg_rest_demo_spark.plans.registry import (
    REGISTRY,
    query_fns,
)

query_fns()  # REGISTRY is empty until the plans modules load

from .conftest import SF_DIR, sweep_queries  # noqa: E402

PKG = Path(pkg.__file__).resolve().parent
OWNER = PKG / "operators" / "materialize.py"
# Observations that watch something other than a materialization.
OTHER_OBSERVATIONS = {
    PKG / "sinks" / "dispositions.py": "counts the rows of a lake write",
    PKG / "check_tables.py": "counts the rows under a table's sample scan",
}


def _persistent(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def _plan_rdd_ids(df) -> set[int]:
    """RDD ids behind every LogicalRDD node of the analyzed plan, found
    by walking children() and subqueries() (independent of the module
    under test)."""
    ids, stack = set(), [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "LogicalRDD":
            ids.add(node.rdd().id())
        for seq in (node.children(), node.subqueries()):
            it = seq.iterator()
            while it.hasNext():
                stack.append(it.next())
    return ids


def test_only_the_module_checkpoints_or_observes():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == OWNER:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Attribute) and node.attr == "localCheckpoint":
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno} localCheckpoint")
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "id", getattr(node.func, "attr", None))
                == "Observation"
                and path not in OTHER_OBSERVATIONS
            ):
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno} Observation(")
    assert not offenders, "route these through materialize():\n" + "\n".join(offenders)


# Lazy ``persist()`` is outside the scope's ownership: the session's
# cache manager holds those blocks, which build when a job first reads
# the frame. A build whose own jobs read one leaves the cache behind.
# Pinned, so that a fix and a new case both fail the sweep.
CACHE_BUILT_DURING_BUILD = {
    # minhash_dedup_pairs persists its signatures; the connected-
    # components checkpoints read them while the query is built
    "dedup_clusters_minhash",
}


def test_query_builds_leave_only_blocks_their_plan_reads(spark):
    assert len(REGISTRY) >= 250  # vacuous-sweep guard
    names = sweep_queries(REGISTRY)
    leaks, cached = [], set()
    for name in names:
        before = _persistent(spark)
        df = REGISTRY[name].spark(spark, SF_DIR)
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        extra = _persistent(spark) - before - _plan_rdd_ids(df)
        checkpoints = {i for i in extra if rdds[i].rdd().isLocallyCheckpointed()}
        if checkpoints:
            leaks.append(f"{name}: {len(checkpoints)} unread checkpoint(s)")
        if extra - checkpoints:
            cached.add(name)
        for rdd_id in extra:  # keep one offender from hiding the next
            rdds[rdd_id].unpersist(False)
    assert not leaks, "query builds leaked blocks:\n" + "\n".join(leaks)
    assert cached == CACHE_BUILT_DURING_BUILD & set(names)


class TestScope:
    def test_frees_unread_and_keeps_read_blocks(self, spark):
        with scope() as s:
            read = materialize(spark.range(10))
            unread = materialize(spark.range(20))
            out = s.keep(read.filter(F.col("id") > 3))
        held = _persistent(spark)
        assert _rdd_id(read) in held
        assert _rdd_id(unread) not in held
        assert out.count() == 6
        release(read)

    def test_blocks_read_only_by_a_subquery_are_kept(self, spark):
        with scope() as s:
            sub = materialize(spark.range(3).withColumnRenamed("id", "k"))
            out = s.keep(
                spark.range(10).where(
                    sub.where(F.col("k") == F.col("id").outer()).exists()
                )
            )
        assert _rdd_id(sub) in _persistent(spark)
        assert out.count() == 3
        release(sub)

    def test_frees_everything_when_the_build_raises(self, spark):
        made = []
        with pytest.raises(RuntimeError):
            with scope():
                made.append(materialize(spark.range(5)))
                raise RuntimeError("build failed")
        assert _rdd_id(made[0]) not in _persistent(spark)

    def test_kept_blocks_pass_to_the_enclosing_scope(self, spark):
        with scope() as outer:
            with scope() as inner:
                ck = inner.keep(materialize(spark.range(4)))
            assert _rdd_id(ck) in _persistent(spark)
            outer.keep(spark.range(1))
        assert _rdd_id(ck) not in _persistent(spark)

    def test_empty_scope_makes_no_jvm_calls(self):
        touched = []

        class Trap:
            def __getattr__(self, attr):
                touched.append(attr)
                raise AttributeError(attr)

        with scope() as s:
            s.keep(Trap())
        assert touched == []

    def test_outside_a_scope_nothing_is_recorded(self, spark):
        ck = materialize(spark.range(7))
        assert ck.count() == 7
        with scope() as s:
            s.keep(spark.range(1))
        assert _rdd_id(ck) in _persistent(spark)
        release(ck)
        assert _rdd_id(ck) not in _persistent(spark)
