"""Shared helpers for registry queries.

The driver hash-compares Spark output against DuckDB output, so float
aggregation must be order-independent: both engines sum doubles in
different orders (Spark: parallel partial aggregates; DuckDB: scan
order), which perturbs the last ulp. The fix used everywhere here:
cast the per-row double to a fixed-scale DECIMAL (exact, same rounding
of the identical per-row IEEE value in both engines), sum the decimals
(exact, order-independent), and cast the result back to DOUBLE.

Portability envelope (measured by the round-6 extreme-numerics sweep,
pinned in tests/test_extreme_numerics.py): the per-row double->decimal
cast is identical between engines only while |x| * 10^scale < 2^53 —
Spark converts via Java's shortest-decimal rendering, DuckDB by
multiplying the double by 10^scale (a rounding double op) — i.e.
~9e9 for scale 6. Past ~1e12 the cast overflows DECIMAL(18,6)
outright (Spark NULLs it, ANSI off; DuckDB raises). Fixture money
domains sit far inside. Also: never use a bare CAST(double AS BIGINT)
in an oracle pair — Spark truncates, DuckDB rounds half-even; use the
explicit floor(x + 0.5) convention on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..sources.parquet import load_table

# Fixed-point type used for order-independent double sums.
DEC = "decimal(18,6)"
SQL_DEC = "DECIMAL(18,6)"


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def empty_frame(spark: SparkSession, ddl: str) -> DataFrame:
    """A 0-row frame of the ``ddl`` schema, landed as an empty Arrow
    table: a ``LocalRelation`` that runs no job when collected (an empty
    Python list lands as a ``LogicalRDD``, one job per collect)."""
    schema = StructType.fromDDL(ddl)
    return spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema)


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent sum of a double column, output DOUBLE.

    DuckDB equivalent: CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Order-independent mean: exact decimal sum -> double, / count.

    Both engines then perform one identical IEEE division.
    DuckDB equivalent:
    CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(x).
    """
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias(alias)


def sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS {SQL_DEC})) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS {SQL_DEC})) AS DOUBLE) / COUNT({expr}) AS {alias}"
