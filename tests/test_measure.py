"""The harness measurement module (scripts/measure.py): in-process
counters with the Spark UI off, full-plan execution, SQL-plan capture,
child-process results, and the rule that it is the harness's only copy
of each."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from scripts import measure

REPO = Path(__file__).resolve().parent.parent


def test_counters_read_without_ui(spark):
    assert spark.conf.get("spark.ui.enabled") == "false"
    assert spark.sparkContext.uiWebUrl is None
    snap = measure.Snapshot(spark)
    df = spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count()
    assert measure.execute(df) == 7
    stages = snap.stages()
    assert len(snap.jobs()) >= 1
    assert len(stages) >= 2
    assert sum(s["shuffleWriteBytes"] for s in stages) > 0
    ran = [s for s in stages if s["numCompleteTasks"] > 0]
    q = snap.task_quantiles(ran[0], [0.5, 1.0])
    assert len(q["executorRunTime"]) == 2


def test_probe_reports_each_stage_undivided(spark):
    from scripts import opt_probe

    snap = measure.Snapshot(spark)
    df = spark.range(0, 100, numPartitions=1).groupBy((F.col("id") % 7).alias("k")).count()
    measure.execute(df.coalesce(1))
    rows = opt_probe.top_stages(snap.stages())
    assert rows and all(r["tasks"] >= 1 for r in rows)
    assert sum(r["tasks"] for r in rows) == sum(s["numCompleteTasks"] for s in snap.stages())


def test_execute_runs_columns_count_prunes(spark):
    @F.udf("long")
    def boom(x):
        raise ValueError("computed column ran")

    df = spark.range(5).withColumn("y", boom("id"))
    assert df.count() == 5  # Catalyst prunes the unused UDF column
    with pytest.raises(Exception, match="computed column ran"):
        measure.execute(df)


def test_sql_plans_capture_plain_query(spark):
    plans = measure.sql_plans(
        spark, lambda: spark.range(1_000).groupBy((F.col("id") % 3).alias("k")).count()
    )
    assert plans and all(p["planDescription"].strip() for p in plans)
    assert any("HashAggregate" in p["planDescription"] for p in plans)


def test_sql_plans_raise_on_empty_capture(spark, monkeypatch):
    monkeypatch.setattr(DataFrameWriter, "save", lambda self, *a, **k: None)
    with pytest.raises(RuntimeError, match="no SQL execution"):
        measure.sql_plans(spark, lambda: spark.range(3))


def test_isolated_reads_tagged_line():
    code = "print('noise'); print('RESULT {\"rows\": 3}')"
    assert measure.isolated(["-c", code], "RESULT") == {"rows": 3}
    with pytest.raises(RuntimeError, match="went wrong"):
        measure.isolated(["-c", "import sys; sys.exit('went wrong')"], "RESULT")


def test_measurement_lives_only_in_measure():
    harness = [REPO / "bench.py", *sorted((REPO / "scripts").glob("*.py"))]
    offenders = [
        f"{path.name}: {word}"
        for path in harness
        if path.name != "measure.py"
        for word in ("toRdd(", "urllib", "spark.ui.enabled")
        if word in path.read_text()
    ]
    assert len(harness) > 3
    assert offenders == []
