"""Source fidelity tests (S1-S3, P1-P6, T1/T2, auth) against the mock
transport - the reference's subtle correctness surface per SURVEY §7."""

from __future__ import annotations

import ast
import datetime
from pathlib import Path

import pyarrow as pa
import pytest
from pyspark.errors import PySparkException, PySparkTypeError
from pyspark.sql import functions as F

import dlt_salesforce_iceberg_rest_demo_spark as pkg
from dlt_salesforce_iceberg_rest_demo_spark.normalize import CURSOR_HINT, snake_case
from dlt_salesforce_iceberg_rest_demo_spark.sources.datasource import SalesforceDataSource
from dlt_salesforce_iceberg_rest_demo_spark.sources.salesforce import (
    BulkNotEnabledError,
    MockTransport,
    ObjectMeta,
    SalesforceAuth,
    _records_to_table,
    build_soql,
    object_meta,
    read_object,
)

from .fixtures_salesforce import datasource_options, f, make_transport, ts


class TestSOQL:
    def test_projection_only(self):
        q = build_soql("User", ["Id", "Name"])
        assert q == "SELECT Id, Name FROM User"

    def test_cursor_predicate_and_order(self):
        q = build_soql(
            "Opportunity",
            ["Id"],
            replication_key="SystemModstamp",
            last_state="2024-01-01T00:00:00.000000Z",
        )
        # strict `>` + ASC order (records.py:87-91)
        assert q == (
            "SELECT Id FROM Opportunity WHERE SystemModstamp > "
            "2024-01-01T00:00:00.000000Z ORDER BY SystemModstamp ASC"
        )

    def test_replication_key_without_state_orders_only(self):
        q = build_soql("Opportunity", ["Id"], replication_key="SystemModstamp")
        assert "WHERE" not in q and "ORDER BY SystemModstamp ASC" in q

    def test_test_mode_limit(self):
        # IS_PRODUCTION=False appends LIMIT 100 (records.py:93-94)
        q = build_soql("User", ["Id"], is_production=False)
        assert q.endswith("LIMIT 100")


class TestDescribe:
    def test_compound_parent_pruned_children_kept(self):
        meta = object_meta(make_transport(), "Account")
        assert "BillingAddress" not in meta.fields  # compound parent dropped
        assert "BillingCity" in meta.fields  # leaf kept
        assert "Name" in meta.fields  # Name always kept

    def test_date_fields_detected(self):
        meta = object_meta(make_transport(), "Account")
        assert meta.date_fields == {"CreatedDate", "LastModifiedDate", "SystemModstamp"}


class TestReadObject:
    def test_bulk_read_types_and_envelope(self, spark):
        df = _df(spark, make_transport(), "Account")
        assert "attributes" not in df.columns  # P6 envelope strip
        assert "BillingAddress" not in df.columns
        rows = {r["Id"]: r for r in df.collect()}
        assert len(rows) == 2
        # T1: bulk epoch-millis became a native UTC timestamp
        assert rows["001A"]["LastModifiedDate"] == datetime.datetime(2024, 1, 2)
        # widened numeric types (int -> long, currency -> double)
        dtypes = dict(df.dtypes)
        assert dtypes["NumberOfEmployees"] == "bigint"
        assert dtypes["AnnualRevenue"] == "double"

    def test_standard_fallback_equals_bulk(self, spark):
        bulk = _df(spark, make_transport(), "Account")
        t = make_transport(bulk_enabled=False)
        standard = _df(spark, t, "Account")
        # S2: FeatureNotEnabled falls back to query/query_more, identical rows
        assert sorted(map(tuple, bulk.collect())) == sorted(
            map(tuple, standard.collect())
        )

    def test_bulk_not_enabled_surface(self):
        t = make_transport(bulk_enabled=False)
        with pytest.raises(BulkNotEnabledError):
            next(iter(t.query_bulk("Account", "SELECT Id FROM Account")))

    def test_incremental_cursor_pushdown(self, spark):
        t = make_transport()
        df = _df(
            spark,
            t,
            "Account",
            last_state="2024-01-02T00:00:00.000000Z",
            replication_key="LastModifiedDate",
        )
        # strict `>`: the row AT the cursor is excluded
        assert [r["Id"] for r in df.collect()] == ["001B"]
        assert "WHERE LastModifiedDate >" in t.queries_seen[-1]

    def test_distributed_read_matches_single(self, spark):
        # the partition-parallel read is the registrable Data Source
        single = _df(spark, make_transport(), "Account")
        dist = _datasource(spark, make_transport(), numpartitions="8")
        assert dist.dtypes == single.dtypes
        assert sorted(dist.collect()) == sorted(single.collect())

    @pytest.mark.parametrize("version, ids", [(1, ["001B"]), (2, ["001B", "001C"])])
    def test_filtered_datasource_read_equals_incremental(self, spark, version, ids):
        # a cursor filter pushed into the Data Source's SOQL returns what
        # read_object's `cursor > state` predicate returns
        single = _df(
            spark,
            make_transport(version),
            "Account",
            last_state="2024-01-02T00:00:00.000000Z",
            replication_key="LastModifiedDate",
        )
        dist = _datasource(spark, make_transport(version), numpartitions="8").filter(
            F.col("LastModifiedDate") > datetime.datetime(2024, 1, 2)
        )
        assert sorted(r["Id"] for r in dist.collect()) == ids
        assert sorted(dist.collect()) == sorted(single.collect())


def _df(spark, transport, sobject, **kw):
    """``read_object``'s Arrow batch landed as a DataFrame, as API-form
    callers land it."""
    return spark.createDataFrame(read_object(spark, transport, sobject, **kw))


def _datasource(spark, transport, **options):
    spark.dataSource.register(SalesforceDataSource)
    return (
        spark.read.format("salesforce")
        .options(**datasource_options(transport, **options))
        .load()
    )


class TestOneExtractionPath:
    """Every reader pages through ``fetch_records``; the partition-parallel
    read is the Data Source, not a ``mapInPandas`` over range specs."""

    PKG = Path(pkg.__file__).resolve().parent

    def test_transport_queries_only_in_fetch_records(self):
        inside, outside = [], []

        def visit(node, owner, path):
            if isinstance(node, ast.FunctionDef):
                owner = node.name
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "attr", None) in ("query_bulk", "query_standard")
            ):
                site = f"{path.relative_to(self.PKG)}:{node.lineno} {node.func.attr}"
                (inside if owner == "fetch_records" else outside).append(site)
            for child in ast.iter_child_nodes(node):
                visit(child, owner, path)

        for path in sorted(self.PKG.rglob("*.py")):
            visit(ast.parse(path.read_text(), str(path)), None, path)
        assert len(inside) == 2, inside
        assert outside == []

    def test_no_map_in_pandas_in_sources(self):
        offenders = [
            f"{path.name}:{node.lineno}"
            for path in sorted((self.PKG / "sources").glob("*.py"))
            for node in ast.walk(ast.parse(path.read_text(), str(path)))
            if isinstance(node, ast.Attribute) and node.attr == "mapInPandas"
        ]
        assert offenders == []


def _leaf_classes(df) -> list[str]:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]


class TestArrowLanding:
    """A batch lands as one Arrow table with the verdicts the pickled-row
    path gave (PySpark's schema verifier over a first-value schema): same
    types, same raises, same timestamps, for both wire shapes."""

    META = ObjectMeta(fields=["Id", "V", "When"], date_fields={"When"})
    # One instant list, in each shape's wire form: bulk sends epoch
    # millis, standard sends ISO strings ('Z' and '+0000' offsets).
    WHEN = {
        "bulk": [1704164645123, 0, -1500],
        "standard": [
            "2024-01-02T03:04:05.123Z",
            "1970-01-01T00:00:00.000+0000",
            "1969-12-31T23:59:58.500Z",
        ],
    }
    WHEN_PARSED = [
        datetime.datetime(2024, 1, 2, 3, 4, 5, 123000),
        datetime.datetime(1970, 1, 1),
        datetime.datetime(1969, 12, 31, 23, 59, 58, 500000),
    ]

    def land(self, spark, api_type, values, when=None):
        when = when or [None] * len(values)
        records = [
            {"attributes": {"type": "X"}, "Id": str(i), "V": v, "When": w}
            for i, (v, w) in enumerate(zip(values, when))
        ]
        return spark.createDataFrame(_records_to_table(records, self.META, api_type))

    @pytest.mark.parametrize("api_type", ["bulk", "standard"])
    @pytest.mark.parametrize(
        "values",
        [[1, 2.5], [1.5, 2], [1, "x"], [True, 1]],
        ids=["int-float", "float-int", "int-str", "bool-int"],
    )
    def test_mixed_type_columns_raise(self, spark, api_type, values):
        # pyarrow alone would land [1, 2.5] in an int64 column as [1, 2]
        with pytest.raises(PySparkTypeError) as err:
            self.land(spark, api_type, values).collect()
        assert err.value.getCondition() == "FIELD_DATA_TYPE_UNACCEPTABLE_WITH_NAME"

    @pytest.mark.parametrize("api_type", ["bulk", "standard"])
    @pytest.mark.parametrize(
        "values, dtype, landed",
        [
            ([3, None, 4], "bigint", [3, None, 4]),
            ([2.5, 1.0], "double", [2.5, 1.0]),
            ([False, True], "boolean", [False, True]),
            ([None, None], "string", [None, None]),
            # a string-led column renders every value with str()
            (["x", 1, True, {"a": 1}], "string", ["x", "1", "true", "{'a': 1}"]),
        ],
        ids=["long", "double", "boolean", "all-null", "string-led"],
    )
    def test_column_types(self, spark, api_type, values, dtype, landed):
        df = self.land(spark, api_type, values)
        assert dict(df.dtypes)["V"] == dtype
        assert [r["V"] for r in df.orderBy(df["Id"].cast("int")).collect()] == landed

    @pytest.mark.parametrize("api_type", ["bulk", "standard"])
    def test_empty_result_keeps_typed_schema(self, spark, api_type):
        df = spark.createDataFrame(_records_to_table([], self.META, api_type))
        assert df.dtypes == [("Id", "string"), ("V", "string"), ("When", "timestamp")]
        assert df.count() == 0

    @pytest.mark.parametrize("api_type", ["bulk", "standard"])
    @pytest.mark.parametrize("bad", ["x", 1.5e12], ids=["text", "float"])
    def test_unparseable_datetime_raises(self, spark, api_type, bad):
        # never a silent NULL timestamp (a NULL cursor escapes the
        # batch's cursor max): bulk raises while typing the column,
        # standard when the parse runs
        when = [self.WHEN[api_type][0], bad]
        with pytest.raises(PySparkException, match="field When"):
            self.land(spark, api_type, [1, 2], when).collect()

    @pytest.mark.parametrize("api_type", ["bulk", "standard"])
    def test_datetimes_from_either_wire_shape(self, spark, api_type):
        df = self.land(spark, api_type, [1, 2, 3], self.WHEN[api_type])
        got = [r["When"] for r in df.orderBy(df["Id"].cast("int")).collect()]
        assert got == self.WHEN_PARSED

    def test_read_object_plan_is_a_local_relation(self, spark):
        # The batch is a driver-side Arrow table; landed in Spark it is a
        # LocalRelation, and no LogicalRDD: nothing runs a Python task.
        batch = read_object(spark, make_transport(), "Account")
        assert isinstance(batch, pa.Table)
        assert _leaf_classes(spark.createDataFrame(batch)) == ["LocalRelation"]

    @pytest.mark.parametrize("api_type", ["bulk", "standard"])
    def test_zoneless_iso_string_raises(self, spark, api_type):
        # Salesforce always sends a zone ('Z' or '+0000'); a string
        # without one is refused rather than read in some local zone.
        # Bulk sends no strings at all.
        with pytest.raises(PySparkException, match="field When"):
            self.land(spark, api_type, [1], ["2024-01-02T03:04:05.000"])


class TestLandedBatch:
    """``read_object(..., load_id=)`` lands the batch in its lake form:
    one driver-side Arrow table with dlt's normalize stage applied, and
    nothing left for a projection to do."""

    def land(self, spark, version=1, **kw):
        return read_object(
            spark,
            make_transport(version),
            "Account",
            replication_key="LastModifiedDate",
            load_id="L1",
            **kw,
        )

    def test_names_are_snake_case_then_lineage(self, spark):
        meta = object_meta(make_transport(), "Account")
        batch = self.land(spark)
        assert isinstance(batch, pa.Table)
        assert batch.column_names == [snake_case(c) for c in meta.fields] + [
            "_dlt_load_id",
            "_dlt_id",
        ]
        assert {"last_modified_date", "number_of_employees"} <= set(batch.column_names)

    def test_rows_and_types_equal_the_api_form(self, spark):
        api = read_object(spark, make_transport(), "Account")
        batch = self.land(spark).drop_columns(["_dlt_load_id", "_dlt_id"])
        assert [(f.name, f.type) for f in batch.schema] == [
            (snake_case(f.name), f.type) for f in api.schema
        ]
        assert batch.column("last_modified_date").type == pa.timestamp("us", tz="UTC")
        assert batch.column("number_of_employees").type == pa.int64()
        # the Spark types round-trip from the Arrow schema
        df, api_df = spark.createDataFrame(batch), spark.createDataFrame(api)
        assert df.dtypes == [(snake_case(c), t) for c, t in api_df.dtypes]
        types = dict(df.dtypes)
        assert (types["last_modified_date"], types["number_of_employees"]) == ("timestamp", "bigint")
        assert types["annual_revenue"] == "double"
        assert sorted(map(tuple, df.collect())) == sorted(map(tuple, api_df.collect()))

    def test_constant_load_id(self, spark):
        assert set(self.land(spark, version=2).column("_dlt_load_id").to_pylist()) == {"L1"}

    def test_one_unique_dlt_id_per_row_drawn_once(self, spark):
        batch = self.land(spark, version=2)
        ids = batch.column("_dlt_id").to_pylist()
        assert len(set(ids)) == len(ids) == 3
        assert all(len(i) == 32 for i in ids)
        # every execution of the landed batch sees the same ids (a merge
        # runs it more than once)
        df = spark.createDataFrame(batch)
        for _ in range(2):
            assert sorted(r["_dlt_id"] for r in df.collect()) == sorted(ids)

    def test_cursor_column_is_marked(self, spark):
        marks = {f.name: f.metadata for f in self.land(spark).schema if f.metadata}
        assert marks == {"last_modified_date": {CURSOR_HINT.encode(): b"true"}}
        api = read_object(spark, make_transport(), "Account", replication_key="LastModifiedDate")
        assert not any(f.metadata for f in api.schema)

    def test_plan_is_a_bare_local_relation(self, spark):
        plan = spark.createDataFrame(self.land(spark))._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LocalRelation"

    def test_empty_batch_keeps_the_lake_names(self, spark):
        # a field with no value is typed by its describe type
        full = self.land(spark)
        empty = self.land(spark, last_state="2099-01-01T00:00:00.000000Z")
        assert empty.num_rows == 0
        assert empty.schema.equals(full.schema, check_metadata=True)


class TestDateFieldsLand:
    """describe type ``date`` lands as DateType through ``read_object``,
    as it does through the Data Source, over both wire shapes."""

    DESCRIBES = {
        "Opportunity": [
            f("Id", "id"),
            f("Amount", "currency"),
            f("CloseDate", "date"),
            f("SystemModstamp", "datetime"),
        ],
        "Contact": [f("Id", "id"), f("Birthdate", "date"), f("SystemModstamp", "datetime")],
    }
    DATA = {
        "Opportunity": [
            {"Id": "006A", "Amount": 10.5, "CloseDate": "2024-03-31", "SystemModstamp": ts(2)},
            {"Id": "006B", "Amount": 2.0, "CloseDate": None, "SystemModstamp": ts(3)},
        ],
        "Contact": [
            {"Id": "003A", "Birthdate": "1915-12-10", "SystemModstamp": ts(1)},
            {"Id": "003B", "Birthdate": "2006-02-28", "SystemModstamp": ts(2)},
        ],
    }

    def transport(self, bulk_enabled, data=None):
        return MockTransport(
            describes=self.DESCRIBES, data=data or self.DATA, bulk_enabled=bulk_enabled
        )

    @pytest.mark.parametrize("bulk_enabled", [True, False], ids=["bulk", "standard"])
    @pytest.mark.parametrize(
        "sobject, field", [("Opportunity", "CloseDate"), ("Contact", "Birthdate")]
    )
    def test_read_object_equals_datasource(self, spark, bulk_enabled, sobject, field):
        single = _df(spark, self.transport(bulk_enabled), sobject)
        dist = _datasource(spark, self.transport(bulk_enabled), sobject=sobject)
        assert dict(single.dtypes)[field] == "date"
        assert single.dtypes == dist.dtypes
        assert sorted(single.collect()) == sorted(dist.collect())
        want = {r["Id"]: r[field] for r in self.DATA[sobject]}
        assert {
            r["Id"]: r[field] and r[field].isoformat() for r in single.collect()
        } == want

    @pytest.mark.parametrize("bulk_enabled", [True, False], ids=["bulk", "standard"])
    @pytest.mark.parametrize("bad", ["31/03/2024", "2024-02-30"])
    def test_unparseable_date_raises(self, spark, bulk_enabled, bad):
        rows = [{**self.DATA["Opportunity"][0], "CloseDate": bad}]
        t = self.transport(bulk_enabled, {**self.DATA, "Opportunity": rows})
        with pytest.raises(PySparkException, match="field CloseDate: unparseable date"):
            read_object(spark, t, "Opportunity")


class TestIsoOffsets:
    """Standard-shape datetimes with any zone offset land as the same UTC
    instant through both readers; a string without a zone is refused."""

    DESCRIBE = [f("Id", "id"), f("SystemModstamp", "datetime")]
    WIRE = {
        "001A": "2024-01-15T12:34:56.000+01:00",
        "001B": "2024-01-15T11:34:56.000Z",
        "001C": "2024-01-15T11:34:56.000+0000",
        "001D": "2024-01-15T09:04:56.000-02:30",
    }

    def transport(self, wire):
        rows = [{"Id": i, "SystemModstamp": v} for i, v in wire.items()]
        return MockTransport(
            describes={"Account": self.DESCRIBE}, data={"Account": rows}, bulk_enabled=False
        )

    def test_both_readers_apply_the_offset(self, spark):
        single = _df(spark, self.transport(self.WIRE), "Account")
        dist = _datasource(spark, self.transport(self.WIRE))
        instant = datetime.datetime(2024, 1, 15, 11, 34, 56)
        assert sorted(single.collect()) == sorted(dist.collect())
        assert {r["SystemModstamp"] for r in single.collect()} == {instant}

    def test_both_readers_refuse_a_zoneless_string(self, spark):
        t = self.transport({"001A": "2024-01-15T12:34:56.000"})
        with pytest.raises(PySparkException, match="field SystemModstamp"):
            read_object(spark, t, "Account")
        with pytest.raises(Exception, match="field SystemModstamp: unparseable datetime"):
            _datasource(spark, t).collect()


class TestAuth:
    def test_security_token_mode(self):
        a = SalesforceAuth(user_name="u", password="p", security_token="t")
        assert a.mode() == "security_token"
        assert a.client_kwargs()["security_token"] == "t"

    def test_organization_id_mode(self):
        a = SalesforceAuth(user_name="u", password="p", organization_id="o")
        assert a.mode() == "organization_id"

    def test_consumer_key_secret_mode(self):
        a = SalesforceAuth(
            user_name="u", password="p", consumer_key="k", consumer_secret="s"
        )
        assert a.mode() == "consumer_key_secret"

    def test_jwt_mode_requires_key(self):
        a = SalesforceAuth(user_name="u", consumer_key="k", privatekey="pem")
        assert a.mode() == "jwt"

    def test_client_credentials_mode(self):
        a = SalesforceAuth(consumer_key="k", consumer_secret="s", domain="test")
        assert a.mode() == "client_credentials"

    def test_instance_requires_url(self):
        # client.py:70-76 on_resolved validation
        with pytest.raises(ValueError):
            SalesforceAuth(session_id="sid").mode()
        assert SalesforceAuth(session_id="sid", instance="na1").mode() == "instance"

    def test_no_credentials_rejected(self):
        with pytest.raises(ValueError):
            SalesforceAuth().mode()
