"""Reference-parity queries: the operators the reference actually
implements (SURVEY.md §2.1-§2.6), re-expressed on the driver fixtures.

Mapping (reference file:line -> query here):

- P1/P2  projection & compound-field pruning
  (salesforce/helpers/records.py:70-84,92)      -> scan_projection,
                                                   projection_drop_columns
- P3/P4  incremental cursor predicate + sort
  (salesforce/helpers/records.py:87-91)         -> incremental_cursor_filter
- P5     test-mode LIMIT 100
  (salesforce/helpers/records.py:93-94)         -> limit_test_mode
- T1/T2  datetime canonicalization
  (salesforce/helpers/records.py:32-45)         -> datetime_canonicalize
- T3     schema alignment (add-null / drop-extra)
  (salesforce_pipeline.py:153-176)              -> schema_align_add_missing
- T5     lineage columns + snake_case (dlt normalize)
                                                -> lineage_columns
- W1     append (salesforce_pipeline.py:176)    -> append_two_batches
- W2     replace (salesforce_pipeline.py:79-81) -> replace_snapshot
- W3     merge upsert delete-then-insert
  (salesforce_pipeline.py:83-130)               -> merge_upsert_semantics
- I1/I4  cursor idempotence / keep-last
  (salesforce/helpers/records.py:90)            -> merge_keep_last_per_key
- A1/A2  verification counts
  (check_tables.py:45-47; airflow dag:123-162)  -> row_counts_all_tables
- A3     head sample (check_tables.py:49-53)    -> head_sample_customers

The `events` table plays the role of a Salesforce object: `event_id` =
Id (PK), `ts` = SystemModstamp (cursor), snapshots simulated by ts
ranges.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet import TABLES
from ._helpers import t
from .registry import register

# Cursor cutoff splitting `events` into "already loaded" vs "new batch".
CURSOR_CUT = "2024-01-20 00:00:00"


@register(
    "scan_projection",
    oracle="SELECT c_custkey, c_name, c_acctbal FROM customer",
)
def scan_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 column projection: SELECT-list pushdown. The reference builds the
    SOQL SELECT list from describe() (records.py:84,92); here Catalyst
    prunes the parquet scan to exactly these columns (ReadSchema)."""
    return t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")


@register(
    "projection_drop_columns",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
    FROM orders
    """,
)
def projection_drop_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P6 compound-field & envelope pruning: the reference drops
    compound fields and the `attributes` envelope key (records.py:29-30,
    70-75). Spark: `.drop()` - pruned columns never leave the scan."""
    return t(spark, sf_dir, "orders").drop("o_orderpriority")


@register(
    "incremental_cursor_filter",
    oracle=f"""
    SELECT event_id, ts, user_id, event_type, value
    FROM events WHERE ts > TIMESTAMP '{CURSOR_CUT}'
    """,
)
def incremental_cursor_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 incremental predicate: strict `cursor > last_state`
    (records.py:87-90, `WHERE SystemModstamp > ...`). The filter reaches
    the parquet scan as a PushedFilter -> at 100 TB only the new
    row-groups are read (min/max skipping)."""
    return (
        t(spark, sf_dir, "events")
        .filter(F.col("ts") > F.lit(CURSOR_CUT).cast("timestamp"))
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


@register(
    "limit_test_mode",
    oracle="""
    SELECT event_id, ts, event_type FROM events
    ORDER BY ts, event_id LIMIT 100
    """,
)
def limit_test_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+P5: ORDER BY cursor ASC + LIMIT 100 - exactly the reference's
    test-mode query tail (records.py:91-94, settings.py:4). Unique
    (ts, event_id) order makes the 100-row set deterministic."""
    return (
        t(spark, sf_dir, "events")
        .orderBy("ts", "event_id")
        .limit(100)
        .select("event_id", "ts", "event_type")
    )


@register(
    "datetime_canonicalize",
    oracle="""
    SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS ts_canonical
    FROM events
    """,
)
def datetime_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T2: the reference string-normalizes every datetime to
    '%Y-%m-%dT%H:%M:%S.%fZ' (records.py:32-45). Native date_format -
    one vectorized JVM expression, not a per-row Python round-trip."""
    return t(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").alias("ts_canonical"),
    )


@register(
    "schema_align_add_missing",
    oracle="""
    SELECT o_orderkey,
           CAST(NULL AS VARCHAR) AS o_comment,
           o_totalprice,
           CAST(NULL AS DOUBLE) AS o_shippriority
    FROM orders
    """,
)
def schema_align_add_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 schema alignment: target-table schema wins - missing columns
    appended as typed NULLs, extra batch columns silently dropped, target
    order preserved (salesforce_pipeline.py:153-176). Implemented by the
    reusable `normalize.align_to_schema`; this query shows the contract
    on orders with a fake target schema."""
    from ..normalize import align_to_schema
    from pyspark.sql import types as T

    target = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_comment", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_shippriority", T.DoubleType()),
        ]
    )
    return align_to_schema(t(spark, sf_dir, "orders"), target)


@register(
    "lineage_columns",
    oracle="""
    SELECT doc_id, text,
           '1755043200.0' AS _dlt_load_id,
           md5(text) AS _dlt_id
    FROM documents
    """,
)
def lineage_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 dlt-normalize lineage: every row gets `_dlt_load_id` (load
    timestamp string) and `_dlt_id` (row id). dlt's row id is random;
    for oracle determinism this uses content-addressed md5 (the
    pipeline lands a random id per row, `sources.salesforce._row_ids`)."""
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.lit("1755043200.0").alias("_dlt_load_id"),
        F.md5(F.col("text").cast("binary")).alias("_dlt_id"),
    )


@register(
    "append_two_batches",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_rows FROM (
      SELECT * FROM events WHERE ts <= TIMESTAMP '{CURSOR_CUT}'
      UNION ALL
      SELECT * FROM events WHERE ts > TIMESTAMP '{CURSOR_CUT}'
    ) GROUP BY event_type
    """,
)
def append_two_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 append disposition: two loads accumulate (UNION ALL semantics,
    salesforce_pipeline.py:176). Verified by per-type counts."""
    events = t(spark, sf_dir, "events")
    first = events.filter(F.col("ts") <= F.lit(CURSOR_CUT).cast("timestamp"))
    second = events.filter(F.col("ts") > F.lit(CURSOR_CUT).cast("timestamp"))
    return (
        first.unionAll(second).groupBy("event_type").agg(F.count("*").alias("n_rows"))
    )


@register(
    "replace_snapshot",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_rows
    FROM events WHERE ts > TIMESTAMP '{CURSOR_CUT}'
    GROUP BY event_type
    """,
)
def replace_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 replace disposition: the second snapshot fully supplants the
    first (reference: delete(AlwaysTrue) then append,
    salesforce_pipeline.py:79-81; Spark overwrite is the atomic
    equivalent). Result = the new snapshot only."""
    events = t(spark, sf_dir, "events")
    snapshot2 = events.filter(F.col("ts") > F.lit(CURSOR_CUT).cast("timestamp"))
    return snapshot2.groupBy("event_type").agg(F.count("*").alias("n_rows"))


@register(
    "merge_upsert_semantics",
    oracle=f"""
    WITH base  AS (SELECT * FROM events WHERE ts <= TIMESTAMP '{CURSOR_CUT}'),
         batch AS (SELECT event_id, ts, user_id, event_type, value * 2 AS value
                   FROM events WHERE user_id % 10 = 0)
    SELECT event_id, ts, user_id, event_type, value FROM base
    WHERE event_id NOT IN (SELECT event_id FROM batch)
    UNION ALL
    SELECT event_id, ts, user_id, event_type, value FROM batch
    """,
)
def merge_upsert_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 merge disposition = delete-then-insert on PK
    (salesforce_pipeline.py:83-130: build PK filter from batch, delete
    matching rows, append the whole batch). Spark-first: anti-join the
    base against batch PKs, union the batch - the exact relational
    equivalent of the reference's expression-tree delete (P7), with the
    batch side broadcast when small (the 1k-10k row dlt batch always is)."""
    events = t(spark, sf_dir, "events")
    base = events.filter(F.col("ts") <= F.lit(CURSOR_CUT).cast("timestamp"))
    batch = events.filter(F.col("user_id") % 10 == 0).withColumn(
        "value", F.col("value") * 2
    )
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    kept = base.join(F.broadcast(batch.select("event_id")), "event_id", "left_anti")
    return kept.select(*cols).unionAll(batch.select(*cols))


@register(
    "merge_keep_last_per_key",
    oracle="""
    SELECT user_id, event_type, event_id, ts, value FROM (
      SELECT user_id, event_type, event_id, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) x
    WHERE rn = 1
    """,
)
def merge_keep_last_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4 idempotent reload: latest record per logical key wins - the
    net effect of the reference's strict `>` cursor + merge-on-PK
    (records.py:90 + W3). Window row_number on (cursor DESC, id DESC):
    one shuffle on the key, no self-join."""
    from pyspark.sql import Window

    events = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
    )


@register(
    "row_counts_all_tables",
    oracle="\nUNION ALL\n".join(
        f"SELECT '{name}' AS table_name, COUNT(*) AS n_rows FROM {name}"
        for name in TABLES
    ),
)
def row_counts_all_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 verification scan: per-table row counts, the reference's
    post-load check (check_tables.py:45-47, airflow dag:123-162) -
    `df.count()` instead of `len(scan().to_pandas())` (which would pull
    the whole table to one process; count() is a metadata-only parquet op)."""
    counts = [
        t(spark, sf_dir, name).agg(
            F.lit(name).alias("table_name"), F.count("*").alias("n_rows")
        )
        for name in TABLES
    ]
    return functools.reduce(lambda a, b: a.unionAll(b), counts)


@register(
    "head_sample_customers",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer ORDER BY c_custkey LIMIT 3
    """,
)
def head_sample_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 head sample: first 3 rows x first 5 columns
    (check_tables.py:49-53), made deterministic by PK order."""
    customer = t(spark, sf_dir, "customer")
    return (
        customer.orderBy("c_custkey")
        .limit(3)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    )


@register(
    "json_extract_props",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column access: dlt would flatten nested JSON into
    child columns during normalize; Spark reads it in place with
    get_json_object (codegen'd JsonPath, no Python)."""
    return t(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )
