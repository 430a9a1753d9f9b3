"""Normalize-layer unit tests (T1-T5, §1.2/§1.3 type & schema policy)."""

from __future__ import annotations

import datetime

from pyspark.sql import Row
from pyspark.sql import types as T

from dlt_salesforce_iceberg_rest_demo_spark.normalize import (
    align_to_schema,
    canonicalize_datetime,
    nullable_everything,
    parse_canonical_datetime,
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


class TestDatetime:
    def test_canonical_roundtrip(self, spark):
        ts = datetime.datetime(2024, 1, 2, 3, 4, 5, 678901)
        df = spark.createDataFrame([Row(ts=ts)])
        canon = canonicalize_datetime(df, ["ts"])
        s = canon.collect()[0]["ts"]
        assert s == "2024-01-02T03:04:05.678901Z"  # records.py:38 format
        back = parse_canonical_datetime(canon, ["ts"])
        assert back.collect()[0]["ts"] == ts

    def test_epoch_millis_parse(self, spark):
        # Bulk API shape (records.py:34-38): epoch millis -> timestamp
        df = spark.createDataFrame([Row(ts=1704164645000)])
        out = parse_canonical_datetime(df, ["ts"])
        assert out.collect()[0]["ts"] == datetime.datetime(2024, 1, 2, 3, 4, 5)


class TestExplodeNested:
    def test_child_tables_keyed_to_parent(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.normalize import explode_nested

        df = spark.createDataFrame(
            [
                (1, [{"Sku": "a", "Qty": 2}, {"Sku": "b", "Qty": 1}], "r1"),
                (2, [], "r2"),
                (3, None, "r3"),
            ],
            "id long, LineItems array<struct<Sku string, Qty long>>, _dlt_id string",
        )
        tables = explode_nested(df, "order")
        assert set(tables) == {"order", "order__line_items"}
        parent = tables["order"]
        assert "LineItems" not in parent.columns
        child = tables["order__line_items"].collect()
        # empty/NULL arrays contribute no child rows
        assert len(child) == 2
        parent_ids = {
            r["id"]: r["_dlt_id"] for r in parent.collect()
        }
        for r in child:
            assert r._dlt_parent_id == parent_ids[1]
        assert sorted((r.sku, r.qty, r._dlt_list_idx) for r in child) == [
            ("a", 2, 0),
            ("b", 1, 1),
        ]


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


class TestSchemaCompat:
    def test_classification_and_widening_tolerance(self, spark):
        from pyspark.sql import types as T

        from dlt_salesforce_iceberg_rest_demo_spark.normalize import (
            schema_compat_report,
        )

        old = T.StructType(
            [
                T.StructField("id", T.IntegerType()),
                T.StructField("v", T.FloatType()),
                T.StructField("gone", T.StringType()),
                T.StructField("flips", T.StringType()),
            ]
        )
        new = T.StructType(
            [
                T.StructField("id", T.LongType()),      # widening only -> OK
                T.StructField("v", T.DoubleType()),     # widening only -> OK
                T.StructField("flips", T.LongType()),   # real type change
                T.StructField("fresh", T.StringType()),  # additive
            ]
        )
        rep = schema_compat_report(old, new)
        assert rep["added"] == ["fresh"]
        assert rep["removed"] == ["gone"]
        assert rep["type_changed"] == ["flips"]
        assert rep["compatible"] is False

    def test_additive_only_is_compatible(self, spark):
        from pyspark.sql import types as T

        from dlt_salesforce_iceberg_rest_demo_spark.normalize import (
            schema_compat_report,
        )

        old = T.StructType([T.StructField("id", T.LongType())])
        new = T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("x", T.StringType())]
        )
        rep = schema_compat_report(old, new)
        assert rep["compatible"] is True and rep["added"] == ["x"]
