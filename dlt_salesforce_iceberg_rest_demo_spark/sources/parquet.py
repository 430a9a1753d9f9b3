"""Parquet table source for the driver fixtures.

Parity: the reference stages every batch as Parquet before the
destination load (``/root/reference/salesforce_pipeline.py:62``,
``loader_file_format="parquet"``) and its physical tables are
Parquet-in-Iceberg. ``spark.read.parquet`` is the native equivalent:
vectorized scan, predicate pushdown, column pruning all come from
Catalyst for free (SURVEY.md §4).

Schemas: in the reference a scan's schema comes from table metadata,
not from its data files. Here each fixture file's Spark schema is
resolved once per file version: the first read of a file infers it
(Spark's own inference, a one-task footer job), and every later read
passes it back through ``spark.read.schema(...)``, which runs no job.
An entry is keyed by the file's path, ``st_mtime_ns`` and ``st_size``,
and by the session settings that change what Spark infers from a
footer (``_INFERENCE_CONF``), so a rewritten file or a session with
other settings is inferred again. A directory path (a Spark-written
table) is inferred on every read: its mtime does not change when a
file inside it is rewritten. Every call builds a fresh relation, so a
self-join still gets distinct attribute ids on its two sides.

Scale note: at 100 TB these would be partitioned/bucketed Iceberg
tables; the loader keeps the call-site identical (``load_table(spark,
sf_dir, name)``) so swapping in ``spark.table("lake.ns.name")`` is a
one-liner.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampNTZType

# The driver-generated TPC-H-ish star schema (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# Session settings that change the schema Spark infers from a footer.
_INFERENCE_CONF = (
    _NANOS_AS_LONG,
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

# path -> ((st_mtime_ns, st_size), nanos columns, {settings: schema});
# a rewritten file replaces its path's entry. No lock: threads that miss
# together each infer the same schema and store equal values.
_FILES: dict[str, tuple[tuple[int, int], tuple[str, ...], dict[tuple, StructType]]] = {}


def _nanos_timestamp_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark's reader
    rejects (PARQUET_TYPE_ILLEGAL). One cheap driver-side footer read."""
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        return tuple(
            f.name
            for f in schema
            if str(f.type).startswith("timestamp[ns")
        )
    except Exception:
        return ()


def _scan(spark: SparkSession, path: str) -> tuple[DataFrame, tuple[str, ...]]:
    """A fresh scan of one Parquet path with its schema resolved once per
    file version (module docstring), and the path's nanos columns, which
    Spark reads as longs under `spark.sql.legacy.parquet.nanosAsLong`."""
    try:
        st = os.stat(path)
    except OSError:
        st = None  # not a local path: Spark reads it, or raises its error
    if st is not None and stat.S_ISREG(st.st_mode):
        version = (st.st_mtime_ns, st.st_size)
        entry = _FILES.get(path)
        if entry is None or entry[0] != version:
            entry = _FILES[path] = (version, _nanos_timestamp_columns(path), {})
        _, ns_cols, schemas = entry
    else:
        ns_cols, schemas = (), {}  # nothing to key on: infer every time
    if ns_cols:
        spark.conf.set(_NANOS_AS_LONG, "true")
    settings = tuple(spark.conf.get(k) for k in _INFERENCE_CONF)
    schema = schemas.get(settings)
    if schema is None:
        schema = schemas[settings] = spark.read.parquet(path).schema
    return spark.read.schema(schema).parquet(path), ns_cols


def _typed(df: DataFrame, ns_cols: tuple[str, ...]) -> DataFrame:
    """The typing step both loaders end with, as one ``withColumns``.

    Nanosecond-timestamp columns (a historical fixture format for
    `events.ts`), read as long nanos under
    `spark.sql.legacy.parquet.nanosAsLong`, become native microsecond
    timestamps: truncation, matching DuckDB's ns->us cast.

    The driver fixtures store naive microsecond timestamps
    (`timestamp[us]`, isAdjustedToUTC=false), which Spark reads as
    TIMESTAMP_NTZ. Every operator (and DuckDB's naive-UTC oracle
    semantics) works on session-tz timestamps with the session pinned
    to UTC, so those columns are cast to TIMESTAMP: the cast changes
    the type, not the instant."""
    cols = {c: F.timestamp_micros(F.expr(f"`{c}` DIV 1000")) for c in ns_cols}
    cols.update(
        (f.name, F.col(f"`{f.name}`").cast("timestamp"))
        for f in df.schema.fields
        if isinstance(f.dataType, TimestampNTZType)
    )
    return df.withColumns(cols) if cols else df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Plain parquet scan -> full pushdown support.

    The schema is resolved once per file version (module docstring), so
    only the first read of a file runs Spark's one-task schema-inference
    job: building a plan over files read before runs no job. Timestamp
    columns come back as session-tz TIMESTAMP (:func:`_typed`).
    """
    df, ns_cols = _scan(spark, f"{sf_dir}/{name}.parquet")
    return _typed(df, ns_cols)


def load_table_incremental(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_col: str,
    cursor_gt: str,
) -> DataFrame:
    """Cursor scan (`ts > cursor`) with the predicate pushed to parquet,
    typed like :func:`load_table`.

    The plain path (load_table + filter) filters the *converted*
    timestamp, which Catalyst cannot push through `timestamp_micros(ns
    DIV 1000)` - every row group gets read. Here the predicate is
    applied to the raw column before :func:`_typed`: for nanos the
    equivalent `ns > us*1000 + 999` (exactly `ns DIV 1000 > us` for
    ns >= 0), for TIMESTAMP_NTZ the cutoff as NTZ (the same instant in
    the UTC session), so row-group min/max skipping works - at 100 TB
    an idle cursor poll touches only the tail files.
    """
    df, ns_cols = _scan(spark, f"{sf_dir}/{name}.parquet")
    cutoff = F.lit(cursor_gt).cast("timestamp")
    if ts_col in ns_cols:
        cutoff = F.unix_micros(cutoff) * 1000 + 999
    elif isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        cutoff = F.lit(cursor_gt).cast("timestamp_ntz")
    return _typed(df.filter(F.col(ts_col) > cutoff), ns_cols)
