"""Eager materialization for the operator layer, and who frees it.

Operators break lineage, pin an intermediate that several consumers
read, or read a per-round metric through :func:`materialize` (an eager
``localCheckpoint``). The blocks it creates are owned by the enclosing
:func:`scope`:

    A block lives until the scope exits, unless the plan the scope
    returns reads it; then it lives as long as that frame does.

The query registry opens one scope around every query build
(``plans.registry.register``), so a built query holds exactly the
blocks its result reads and nothing else. Operators call
:func:`release` only to free a superseded block before more work runs
in the same scope: per-round state in iterative loops, or a
corpus-sized intermediate once a thinner one replaces it. Outside any
scope nothing is recorded and blocks live until the driver GCs their
frames.

Scopes are tracked in a contextvar, never by diffing the
SparkContext's persistent-RDD registry, so builds running concurrently
on other threads cannot free each other's blocks.

This module imports nothing from the package, so every operator module
can import it at top level.
"""

from __future__ import annotations

from contextvars import ContextVar

from pyspark.sql import DataFrame, Observation

_made: ContextVar[list[DataFrame] | None] = ContextVar("materialized", default=None)


def materialize(df: DataFrame, *metrics):
    """``df.localCheckpoint(eager=True)``, recorded in the current scope.

    With ``metrics`` (aggregate Columns), returns ``(frame, values)``:
    the aggregates are computed by the checkpoint job itself through
    ``Dataset.observe``, so an iterative operator's per-round count or
    convergence test costs zero extra jobs. Observed metrics merge only
    the task attempts that succeed, so a zero "rows changed" value is a
    sound fixed-point witness under any retry schedule. The returned
    frame's plan is a plain ``LogicalRDD``: the ``CollectMetrics`` node
    does not reach consumers."""
    obs = Observation()
    if metrics:
        df = df.observe(obs, *metrics)
    ck = df.localCheckpoint(eager=True)
    made = _made.get()
    if made is not None:
        made.append(ck)
    return (ck, obs.get) if metrics else ck


def release(df: DataFrame) -> None:
    """Unpersist a materialized frame's blocks now rather than at GC
    time, and drop it from the current scope. Idempotent; a frame that
    is not a bare checkpoint is left to GC. Iterative operators
    checkpoint per round, and without this every round's blocks stay
    in the block manager until the scope exits (the accumulated
    pressure once showed up as 2x run-to-run bench variance)."""
    made = _made.get()
    if made:
        made[:] = [ck for ck in made if ck is not df]
    try:
        _rdd(df).unpersist(False)
    except Exception:
        pass  # plan shape changed or non-JVM backend: let GC handle it


def _rdd(df: DataFrame):
    # A checkpointed frame's analyzed plan is a LogicalRDD wrapping
    # exactly the persisted RDD.
    return df._jdf.queryExecution().analyzed().rdd()


def _read_rdd_ids(df: DataFrame) -> set[int]:
    """Ids of the RDDs behind every ``LogicalRDD`` leaf of ``df``'s
    analyzed plan, subquery plans included."""
    plan = df._jdf.queryExecution().analyzed()
    roots = [plan]
    subs = plan.subqueriesAll().iterator()
    while subs.hasNext():
        roots.append(subs.next())
    ids = set()
    for root in roots:
        leaves = root.collectLeaves().iterator()
        while leaves.hasNext():
            leaf = leaves.next()
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                ids.add(leaf.rdd().id())
    return ids


class scope:
    """Owns the blocks :func:`materialize` creates while it is open.

    ``keep(df)`` names the frame the scope hands back. On exit every
    recorded block that frame's plan does not read is released; if
    ``keep`` was never called (the build raised) all of them are. Blocks
    the kept frame reads pass to the enclosing scope, if any. A scope
    in which nothing was materialized makes no JVM calls."""

    def __enter__(self) -> scope:
        self._made: list[DataFrame] = []
        self._kept: DataFrame | None = None
        self._token = _made.set(self._made)
        return self

    def keep(self, df: DataFrame) -> DataFrame:
        self._kept = df
        return df

    def __exit__(self, *exc) -> None:
        _made.reset(self._token)
        if not self._made:
            return
        read = _read_rdd_ids(self._kept) if self._kept is not None else set()
        outer = _made.get()
        for ck in self._made:
            rdd = _rdd(ck)
            if rdd.id() not in read:
                rdd.unpersist(False)
            elif outer is not None:
                outer.append(ck)


def spread(df: DataFrame) -> DataFrame:
    """Ensure CPU-width parallelism before expression-heavy per-row work
    (shingling, signature hashing).

    Small single-file inputs arrive as ONE partition, serializing the
    whole operator onto one core (observed 10x wall-clock at sf0.1). At
    production scale inputs already have >= cores partitions and this
    is a no-op branch - the repartition only fires on pathological
    layouts, and shuffles just the raw rows, before any explode.

    The repartition branch CHECKPOINTS: a bare repartition is not an
    optimizer barrier — Catalyst pushes deterministic projections
    below the exchange (to shrink shuffle bytes), which lands the
    expensive interpreted shingle HOFs back on the single input
    partition and re-runs them once per downstream consumer (observed:
    two 4.5 s single-task map stages under dedup_prefix_jaccard at
    sf0.1, 7.4 s -> 3.4 s from this barrier). Materializing the raw
    rows is trivial exactly when this branch fires (a sub-core-count
    input); the at-scale path never reaches it."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return materialize(df.repartition(target))
    return df


def full_width(spark) -> int:
    """Target partition count for USER-specified hash repartitions
    (which AQE neither coalesces nor skew-splits): the larger of core
    count and ``spark.sql.shuffle.partitions``, so the exchange is
    never narrower than the cluster's tuned shuffle width."""
    try:
        conf_width = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except (TypeError, ValueError):  # "auto" under some AQE setups
        conf_width = 0
    return max(spark.sparkContext.defaultParallelism, conf_width)
