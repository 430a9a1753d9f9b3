"""Normalize-layer unit tests (T1-T5, §1.2/§1.3 type & schema policy)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import types as T

from dlt_salesforce_iceberg_rest_demo_spark.normalize import (
    align_to_schema,
    nullable_everything,
    snake_case,
    widen_types,
)


class TestSnakeCase:
    def test_salesforce_identifiers(self):
        assert snake_case("SystemModstamp") == "system_modstamp"
        assert snake_case("AccountId") == "account_id"
        assert snake_case("IsDeleted") == "is_deleted"
        assert snake_case("Name") == "name"
        assert snake_case("already_snake") == "already_snake"
        assert snake_case("SLAExpirationDate") == "sla_expiration_date"
        assert snake_case("Field__c") == "field_c"


class TestTypes:
    def test_widen(self):
        s = T.StructType(
            [
                T.StructField("i", T.IntegerType()),
                T.StructField("f", T.FloatType()),
                T.StructField("d", T.DecimalType(10, 2)),  # unsupported -> string
                T.StructField("ts", T.TimestampType()),
            ]
        )
        w = widen_types(s)
        assert [f.dataType.simpleString() for f in w.fields] == [
            "bigint",
            "double",
            "string",
            "timestamp",
        ]

    def test_nullable_everything(self):
        s = T.StructType([T.StructField("a", T.LongType(), False)])
        assert all(f.nullable for f in nullable_everything(s).fields)


class TestAlign:
    def test_add_null_drop_extra_reorder(self, spark):
        df = spark.createDataFrame([Row(b="x", a=1, junk=True)])
        target = T.StructType(
            [
                T.StructField("a", T.LongType()),
                T.StructField("b", T.StringType()),
                T.StructField("c", T.DoubleType()),
            ]
        )
        out = align_to_schema(df, target)
        assert out.columns == ["a", "b", "c"]
        row = out.collect()[0]
        assert row["a"] == 1 and row["b"] == "x" and row["c"] is None

    def test_case_insensitive_match(self, spark):
        df = spark.createDataFrame([Row(ID="x")])
        target = T.StructType([T.StructField("id", T.StringType())])
        assert align_to_schema(df, target).collect()[0]["id"] == "x"


class TestPseudonymize:
    def test_deterministic_null_safe_and_fk_preserving(self, spark):
        import hashlib

        from dlt_salesforce_iceberg_rest_demo_spark.normalize import pseudonymize
        from pyspark.sql import Row

        df = spark.createDataFrame(
            [Row(k=1, name="alice"), Row(k=2, name=None), Row(k=1, name="alice")]
        )
        out = pseudonymize(df, ["k", "name"], salt="s").collect()
        want_k1 = hashlib.sha256(b"s|1").hexdigest()
        assert out[0].k == want_k1
        assert out[1].name is None                 # NULL passes through
        assert out[0].k == out[2].k                # equal raws -> equal tokens
        assert out[0].name == out[2].name
        assert out[0].k != out[1].k

    def test_default_salt_warns(self, spark, caplog):
        import logging

        from dlt_salesforce_iceberg_rest_demo_spark.normalize import pseudonymize
        from pyspark.sql import Row

        df = spark.createDataFrame([Row(k=1)])
        with caplog.at_level(
            logging.WARNING, logger="dlt_salesforce_iceberg_rest_demo_spark.normalize"
        ):
            pseudonymize(df, ["k"])
        assert any("salt" in r.message for r in caplog.records)
