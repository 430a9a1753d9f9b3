"""Harness measurement: how ``bench.py`` and the probe scripts run a
query and read what it cost.

- :func:`execute` runs a frame's full physical plan;
- :class:`Snapshot` reads the jobs, stages, SQL executions (with their
  plans) and per-stage task quantiles recorded after it was taken,
  straight from Spark's in-process status store, so no probe needs the
  Spark UI or its REST API;
- :func:`sql_plans` captures the plan of every SQL execution one
  query build and run issues;
- :func:`timed` times fresh builds of a query;
- :func:`isolated` runs a measurement in its own process and returns
  the JSON it reports.

Only harness code imports this module: the package and ``perfbench/``
do not depend on it.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from typing import Callable

from dlt_salesforce_iceberg_rest_demo_spark.operators.materialize import scope


def execute(df) -> int:
    """Execute the frame's FULL physical plan; return its row count.

    Deliberately NOT ``df.count()``: Catalyst re-optimizes a count()
    AROUND the result — column pruning deletes every computed
    expression a count doesn't need (a map-only query times as a bare
    parquet scan), and join elimination removes provably
    row-preserving joins (observed round 8: the ExactSubstr per-doc
    stats — left join of docs against a groupBy-unique aggregate —
    collapsed to a parquet row count, so rounds bench'd the operator
    at scan cost). ``toRdd()`` is the executed plan's own
    InternalRow RDD: counting it runs the plan exactly as a consumer
    of every output column would, still with zero driver-side row
    transfer (per-partition counts only). Rounds 1-7 used count();
    per-query comparisons against those rounds must expect honest
    regressions on map-only and join-eliminated shapes.

    The run registers no SQL execution; :func:`sql_plans` runs a noop
    write instead when the plans are wanted.
    """
    return df._jdf.queryExecution().toRdd().count()


class Snapshot:
    """The status-store records that appear after construction.

    Stage, job and task-quantile records are serialized through Spark's
    own Jackson mapper, so they carry the REST API's field names
    (``stageId``, ``executorRunTime``, ``shuffleWriteBytes``, ...); the
    REST API is a JSON view of this same store. The store keeps only
    the most recent ~1000 of each kind (``spark.ui.retained*``): read
    it soon after the measured runs."""

    def __init__(self, spark) -> None:
        self._spark = spark
        sc = spark.sparkContext
        self._sc = sc
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self._stages = {_stage_key(s) for s in self._all_stages()}
        self._jobs = {j["jobId"] for j in self._all_jobs()}
        self._executions = {e.executionId() for e in self._all_executions()}

    def stages(self) -> list[dict]:
        return [s for s in self._all_stages() if _stage_key(s) not in self._stages]

    def jobs(self) -> list[dict]:
        return [j for j in self._all_jobs() if j["jobId"] not in self._jobs]

    def executions(self) -> list[dict]:
        """New SQL executions, oldest first, as the REST API's ``/sql``
        fields ``id``, ``description`` and ``planDescription`` (the
        final adaptive plan, followed by the initial one)."""
        new = [
            {
                "id": e.executionId(),
                "description": e.description(),
                "planDescription": e.physicalPlanDescription(),
            }
            for e in self._all_executions()
            if e.executionId() not in self._executions
        ]
        return sorted(new, key=lambda e: e["id"])

    def task_quantiles(self, stage: dict, quantiles: list[float]) -> dict | None:
        """The stage's task-metric distributions at ``quantiles``
        (REST ``taskSummary``), or None if the store has no tasks."""
        jvm = self._sc._jvm
        qs = self._sc._gateway.new_array(jvm.double, len(quantiles))
        for i, q in enumerate(quantiles):
            qs[i] = q
        summary = self._store().taskSummary(stage["stageId"], stage["attemptId"], qs)
        return self._json(summary.get()) if summary.isDefined() else None

    def _store(self):
        # Events reach the store through the listener bus after the job
        # has returned: drain it so the last run's records are in.
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        return jsc.statusStore()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _all_stages(self) -> list[dict]:
        jvm = self._sc._jvm
        return self._json(self._store().stageList(
            jvm.java.util.ArrayList(), False, False,
            self._sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        ))

    def _all_jobs(self) -> list[dict]:
        return self._json(self._store().jobsList(self._sc._jvm.java.util.ArrayList()))

    def _all_executions(self):
        self._store()  # drains the listener bus into the SQL store too
        sql_store = self._spark._jsparkSession.sharedState().statusStore()
        return self._sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            sql_store.executionsList()
        )


def _stage_key(stage: dict) -> tuple[int, int]:
    return stage["stageId"], stage["attemptId"]


def sql_plans(spark, make: Callable) -> list[dict]:
    """Build ``make()`` and run it once; return every SQL execution
    issued meanwhile (see :meth:`Snapshot.executions`), construction
    jobs (checkpoints, collects) included — their plans never appear in
    the returned frame's explain. The run is a noop write, which
    registers an SQL execution where :func:`execute` does not. Raises
    when nothing was captured: an empty plan dump is no evidence."""
    snap = Snapshot(spark)
    make().write.format("noop").mode("overwrite").save()
    new = snap.executions()
    if not new:
        raise RuntimeError("no SQL execution captured")
    return new


def timed(make: Callable, runs: int) -> tuple[list[float], int]:
    """Build and execute ``make()`` ``runs`` times; return the wall of
    each run (build plus execute, seconds) and the last row count. Each
    run is its own materialization ``scope()``, so the blocks a result
    read are freed once it has run, not when the driver GCs it."""
    walls, n = [], 0
    for _ in range(runs):
        with scope():
            t0 = time.perf_counter()
            n = execute(make())
            walls.append(time.perf_counter() - t0)
    return walls, n


def isolated(argv: list[str], tag: str) -> dict:
    """Run ``python *argv`` in a child process and return the JSON it
    printed on its ``<tag> {...}`` stdout line. Each measurement gets a
    fresh Spark session this way: a shared session let heavy neighbours
    inflate later measurements 2-10x through driver GC and block-manager
    pressure. Raises RuntimeError with the stderr tail when the child
    printed no such line."""
    proc = subprocess.run([sys.executable, *argv], capture_output=True, text=True)
    prefix = tag + " "
    for line in proc.stdout.splitlines():
        if line.startswith(prefix):
            return json.loads(line[len(prefix):])
    raise RuntimeError(f"no {tag} line from {argv}\n{proc.stderr[-800:]}")
