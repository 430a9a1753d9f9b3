"""dlt-normalize parity layer (SURVEY.md §1.3, §2.3).

The reference's normalize stage (dlt-managed) does four things between
extraction and load:

1. snake_cases every identifier (Salesforce `CamelCase` -> `camel_case`);
2. injects lineage columns `_dlt_load_id` / `_dlt_id`;
3. canonicalizes datetimes to `%Y-%m-%dT%H:%M:%S.%fZ` strings that are
   then re-inferred as timestamps
   (/root/reference/salesforce/helpers/records.py:32-45);
4. aligns each batch to the destination table schema - append typed
   NULLs for missing columns, silently drop extras, keep target order
   (/root/reference/salesforce_pipeline.py:153-176).

Spark-first, and never per-row Python on the executors (the
reference's `_process_record`, records.py:15-47, is exactly the per-row
loop we refuse to port). Steps 1-3 happen where the batch is built:
`sources.salesforce.read_object(..., load_id=)` lands it as one
driver-side Arrow table whose names are already :func:`snake_case`,
with the lineage columns and native timestamps set by Arrow casts (no
string round-trip; the canonical format survives as
:data:`CANONICAL_TS_FORMAT`, in which the lake reports the batch's
cursor, read on the driver). Step 4 is :func:`align_to_schema`, one
projection the lake runs only for a batch whose columns differ from
the table's; a landed batch has them, and the lake writes it from the
driver.
"""

from __future__ import annotations

import logging
import re
import time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

logger = logging.getLogger(__name__)

# Canonical datetime format of the reference (records.py:38,45).
CANONICAL_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"

# Arrow field-metadata key that marks a batch's incremental cursor
# column: set by the source when it lands a batch, read (and dropped)
# by the lake write, which reports the column's max in
# ``WriteReport.cursor``.
CURSOR_HINT = "cursor"


def snake_case(name: str) -> str:
    """dlt-style identifier normalization: CamelCase/kebab -> snake_case.

    `SystemModstamp` -> `system_modstamp`, `AccountId` -> `account_id`,
    `IsDeleted` -> `is_deleted`. Consecutive caps are kept as one word
    (`SLAExpirationDate` -> `sla_expiration_date`).
    """
    name = re.sub(r"[^0-9a-zA-Z_]+", "_", name)
    name = re.sub(r"(.)([A-Z][a-z]+)", r"\1_\2", name)
    name = re.sub(r"([a-z0-9])([A-Z])", r"\1_\2", name)
    name = re.sub(r"_+", "_", name)
    return name.strip("_").lower()


def new_load_id() -> str:
    """dlt load ids are epoch-seconds strings (e.g. '1755043200.123')."""
    return str(time.time())


def nullable_everything(schema: T.StructType) -> T.StructType:
    """Reference creates every Iceberg field `required=False`
    (iceberg/schema.py:57-62): force nullable=True on all fields."""
    return T.StructType(
        [T.StructField(f.name, f.dataType, True, f.metadata) for f in schema.fields]
    )


def widen_types(schema: T.StructType) -> T.StructType:
    """Reference type widening (iceberg/schema.py:37-40): every integer
    width -> long, every float width -> double. Strings/bools/temporal
    pass through; anything unsupported falls back to string
    (iceberg/schema.py:53-55)."""
    def widen(dt: T.DataType) -> T.DataType:
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return T.LongType()
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            return T.DoubleType()
        if isinstance(
            dt,
            (
                T.StringType,
                T.BooleanType,
                T.TimestampType,
                T.TimestampNTZType,
                T.DateType,
                T.BinaryType,
            ),
        ):
            return dt
        return T.StringType()

    return T.StructType(
        [T.StructField(f.name, widen(f.dataType), True, f.metadata) for f in schema.fields]
    )


def align_to_schema(df: DataFrame, target: T.StructType) -> DataFrame:
    """T3 schema alignment, the reference's write-time evolution policy
    (salesforce_pipeline.py:153-176):

    - target columns missing from the batch -> typed NULL columns;
    - batch columns not in the target -> silently dropped;
    - output column order == target order;
    - present columns cast to the target type (permissive, NULL on
      failure - ANSI off matches dlt's forgiving typing).
    """
    projections: list[Column] = []
    df_cols = {c.lower(): c for c in df.columns}
    for field in target.fields:
        src = df_cols.get(field.name.lower())
        if src is None:
            projections.append(F.lit(None).cast(field.dataType).alias(field.name))
        else:
            projections.append(F.col(f"`{src}`").cast(field.dataType).alias(field.name))
    return df.select(projections)


def pseudonymize(
    df: DataFrame, columns: list[str], salt: str | None = None
) -> DataFrame:
    """Deterministic salted pseudonymization of PII/key columns:
    every listed column is replaced by ``sha256(salt || '|' || value)``
    (NULL stays NULL) — the governance pass that makes a lake export
    shareable while PRESERVING JOINABILITY: equal raw values tokenize
    identically in every table of the export, so FK joins, group-bys
    and dedup all still work on the tokens (unlike random UUIDs), and
    without the salt the mapping cannot be replayed from public
    values. That un-replayability claim requires a SECRET caller-held
    salt: calling without one falls back to a well-known default and
    logs a loud warning, because low-entropy raws (keys, names, phone
    numbers) are dictionary-replayable under any public salt.
    Complements the pattern-based `text_redact_pii` scrubber (free
    text) with exact column-level tokenization. Map-side only — one
    projection, no shuffle, codegen'd sha2."""
    if salt is None:
        logger.warning(
            "pseudonymize called without an explicit salt: tokens use a "
            "PUBLIC default salt and are dictionary-replayable for "
            "low-entropy values; pass a secret salt for real "
            "de-identification"
        )
        salt = "dlt-salesforce-iceberg-rest-demo"
    out = df
    for c in columns:
        v = F.col(c).cast("string")
        out = out.withColumn(
            c,
            F.when(v.isNull(), F.lit(None).cast("string")).otherwise(
                F.sha2(F.concat(F.lit(salt), F.lit("|"), v), 256)
            ),
        )
    return out
