"""Iceberg sink: the same dispositions through the Iceberg Spark runtime.

This is the production path mirroring the reference's PyIceberg REST
catalog destination (/root/reference/salesforce_pipeline.py:42-49,
62-176; README.md:37-39 - Lakekeeper REST catalog, MinIO/S3, parquet +
snappy). It requires ``iceberg-spark-runtime`` on the classpath and a
configured catalog (``session.get_spark(enable_iceberg=True)``); the
environment here ships no Iceberg jar, so every entry point guards with
:func:`is_available` and the runtime round-trip tests skip - the parquet
lake (``sinks.dispositions``) provides identical semantics for CI.

What IS executed without the jar (tests/test_iceberg_contract.py): the
SQL text generation (:func:`merge_into_sql`), identifier handling
(:func:`qualified_ident`), the keep-last source dedupe
(:func:`dedupe_keep_last`), the auto-create property set
(:func:`create_table_properties`), and the full disposition dispatch
driven through a recording session - so the only never-run code is the
thin writeTo/sql invocation layer whose strings those tests pin.

Semantic upgrades over the reference, all from the Iceberg Spark runtime
(SURVEY §2.4):

- replace is ONE atomic snapshot (``overwritePartitions``), not
  delete-commit + append-commit;
- merge is a real ``MERGE INTO`` (update-in-place row lineage), not
  delete-then-reinsert - and commits retry on conflict, lifting the
  reference's single-writer restriction (README.md:269-281).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .dispositions import DEFAULT_TABLE_PROPERTIES, WriteReport

logger = logging.getLogger(__name__)

MERGE_SOURCE_VIEW = "__merge_source"


def is_available(spark: SparkSession) -> bool:
    """True when the Iceberg extension + a catalog are configured."""
    try:
        ext = spark.conf.get("spark.sql.extensions", "") or ""
        if "IcebergSparkSessionExtensions" not in ext:
            return False
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def dedupe_keep_last(df: DataFrame, primary_key: list[str]) -> DataFrame:
    """One row per primary key for the MERGE INTO source, which rejects
    multiple source matches per target row: the documented divergence
    from the reference's duplicate-preserving delete-then-insert (SURVEY
    §7 "What's hard"). Deterministic: rows ordered by all non-PK columns
    descending, the first kept."""
    order = [F.col(c).desc() for c in df.columns if c not in primary_key]
    w = Window.partitionBy(*primary_key).orderBy(*(order or [F.lit(1)]))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def qualified_ident(catalog: str, namespace: str, table: str) -> str:
    """``catalog.namespace.table`` with each part backtick-quoted, so
    Salesforce-ish names with odd characters can't break the SQL."""
    return ".".join(f"`{p}`" for p in (catalog, namespace, table))


def create_table_properties() -> dict[str, str]:
    """W5 auto-create table properties - verbatim the reference's
    (salesforce_pipeline.py:146-149)."""
    return dict(DEFAULT_TABLE_PROPERTIES)


def merge_into_sql(ident: str, primary_key: list[str]) -> str:
    """The W3 MERGE INTO statement: match on every PK column, update all
    columns on match, insert all otherwise - Iceberg's row-level upsert
    replacing the reference's delete(Or-of-And)-then-append
    (salesforce_pipeline.py:83-130)."""
    on = " AND ".join(f"t.`{k}` = s.`{k}`" for k in primary_key)
    return (
        f"MERGE INTO {ident} t\n"
        f"USING {MERGE_SOURCE_VIEW} s\n"
        f"ON {on}\n"
        f"WHEN MATCHED THEN UPDATE SET *\n"
        f"WHEN NOT MATCHED THEN INSERT *"
    )


class IcebergWriter:
    """Disposition writer against ``catalog.namespace.table`` idents."""

    def __init__(self, spark: SparkSession, catalog: str, namespace: str) -> None:
        if not is_available(spark):
            raise RuntimeError(
                "Iceberg runtime not on the classpath / no catalog configured; "
                "use sinks.dispositions.ParquetLake or install "
                "iceberg-spark-runtime and call get_spark(enable_iceberg=True)"
            )
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS `{catalog}`.`{namespace}`"
        )

    def _ident(self, table: str) -> str:
        return qualified_ident(self.catalog, self.namespace, table)

    def exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._ident(table))

    def _create(self, df: DataFrame, table: str) -> None:
        """W5 auto-create with the reference's table properties
        (salesforce_pipeline.py:146-149)."""
        writer = df.writeTo(self._ident(table)).using("iceberg")
        for key, value in create_table_properties().items():
            writer = writer.tableProperty(key, value)
        writer.create()

    def append(self, df: DataFrame, table: str) -> WriteReport:
        if not self.exists(table):
            self._create(df, table)
        else:
            df.writeTo(self._ident(table)).append()
        return WriteReport(table, "append", df.count())

    def replace(self, df: DataFrame, table: str) -> WriteReport:
        if not self.exists(table):
            self._create(df, table)
        else:
            df.writeTo(self._ident(table)).overwritePartitions()
        return WriteReport(table, "replace", df.count())

    def merge(
        self, df: DataFrame, table: str, primary_key: tuple[str, ...] | list[str]
    ) -> WriteReport:
        pk = list(primary_key)
        if not self.exists(table):
            self._create(df, table)
            return WriteReport(table, "merge", df.count())
        if not pk or any(k not in df.columns for k in pk):
            logger.warning("merge on %s lacks usable PKs; appending", table)
            rep = self.append(df, table)
            return WriteReport(table, "merge", rep.rows_written, fallback_append=True)
        deduped = dedupe_keep_last(df, pk)
        deduped.createOrReplaceTempView(MERGE_SOURCE_VIEW)
        self.spark.sql(merge_into_sql(self._ident(table), pk))
        return WriteReport(table, "merge", deduped.count())

    def write(
        self,
        df: DataFrame,
        table: str,
        disposition: str,
        primary_key: tuple[str, ...] | list[str] = (),
    ) -> WriteReport:
        """Disposition dispatch - same entry-point contract as
        ``ParquetLake.write`` (salesforce_pipeline.py:62-176)."""
        if disposition == "append":
            return self.append(df, table)
        if disposition == "replace":
            return self.replace(df, table)
        if disposition == "merge":
            return self.merge(df, table, primary_key)
        raise ValueError(f"unknown write disposition: {disposition}")
