"""Focused tests for ``materialize(df, *metrics)``: the
observed-metrics checkpoint that lets iterative operators read their
per-round count / convergence signature out of the round's own
materialization job instead of a second scan job.

The loops that now depend on it: k_core / k_truss (peel counts),
connected_components (changed-labels sum), connected_components_star
(count + xxhash64-sum signature), containment_pairs (hot-vocab count).
If Spark ever stops delivering observe metrics through the
localCheckpoint action, these tests fail loudly instead of the loops
hanging or mis-converging.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dlt_salesforce_iceberg_rest_demo_spark.operators.materialize import (
    materialize,
    release,
)


class TestObservedCheckpoint:
    def test_metrics_come_from_the_checkpoint_job(self, spark):
        df = spark.range(100).withColumn("d", F.col("id") % 7)
        ck, vals = materialize(
            df,
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("d") < 2).cast("long")).alias("nbad"),
        )
        assert vals["n"] == 100
        # d in {0,1} for 15+15 ids -> exact aggregate, not an estimate
        assert vals["nbad"] == sum(1 for i in range(100) if i % 7 < 2)
        # the returned frame is the checkpointed rows, fully usable
        assert ck.count() == 100
        release(ck)

    def test_empty_frame_sum_is_none_count_zero(self, spark):
        # loops guard with `int(vals[...] or 0)`: SUM over zero rows is
        # NULL/None while COUNT is 0 — pin the boundary the guards
        # assume
        df = spark.range(10).filter("id > 100")
        ck, vals = materialize(
            df,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("id")).alias("s"),
        )
        assert vals["n"] == 0
        assert vals["s"] is None
        assert ck.count() == 0
        release(ck)

    def test_consumer_plan_has_no_collect_metrics(self, spark):
        # the CollectMetrics node must not survive into consumers —
        # downstream plans read a plain LogicalRDD
        ck, _ = materialize(
            spark.range(5), F.count(F.lit(1)).alias("n")
        )
        plan = ck._jdf.queryExecution().analyzed().toString()
        assert "CollectMetrics" not in plan
        release(ck)

    def test_loop_rounds_get_fresh_observations(self, spark):
        # one Observation is single-use; the helper must mint a new one
        # per call so loops read the CURRENT round's metrics
        df = spark.range(50)
        for expect in (50, 20, 5):
            ck, vals = materialize(
                df.limit(expect), F.count(F.lit(1)).alias("n")
            )
            assert vals["n"] == expect
            release(ck)
