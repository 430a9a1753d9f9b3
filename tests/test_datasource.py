"""Python Data Source API integration: spark.read.format("salesforce")
with partition-parallel reads and filter pushdown into generated SOQL."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import EqualTo, GreaterThan, IsNotNull, StringContains

from dlt_salesforce_iceberg_rest_demo_spark.sources.datasource import (
    SalesforceDataSource,
    SalesforceReader,
    SalesforceStreamReader,
    pk_range_bounds,
)
from dlt_salesforce_iceberg_rest_demo_spark.sources.salesforce import MockTransport

from .fixtures_salesforce import datasource_options, f, make_transport


def _opts(version=1, bulk_enabled=True, **extra):
    return datasource_options(make_transport(version, bulk_enabled), **extra)


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(SalesforceDataSource)
    return spark


class TestSchema:
    def test_schema_types_follow_describe(self):
        ds = SalesforceDataSource(_opts())
        schema = ds.schema()
        by_name = {f.name: f.dataType for f in schema.fields}
        assert isinstance(by_name["AnnualRevenue"], T.DoubleType)
        assert isinstance(by_name["NumberOfEmployees"], T.LongType)
        assert isinstance(by_name["SystemModstamp"], T.TimestampType)
        assert isinstance(by_name["Name"], T.StringType)
        # compound parent pruned, children kept (records.py:70-84)
        assert "BillingAddress" not in by_name
        assert "BillingCity" in by_name


class TestRead:
    def test_full_read_matches_mock_org(self, registered):
        df = (
            registered.read.format("salesforce")
            .options(**_opts())
            .load()
        )
        rows = {r.Id: r for r in df.collect()}
        assert set(rows) == {"001A", "001B"}
        assert rows["001A"].AnnualRevenue == 1_000_000.0
        assert rows["001B"].NumberOfEmployees == 200
        # bulk epoch-millis converted to a real timestamp
        assert rows["001B"].SystemModstamp.year == 2024

    def test_standard_fallback_equals_bulk(self, registered):
        bulk = (
            registered.read.format("salesforce").options(**_opts()).load().collect()
        )
        std = (
            registered.read.format("salesforce")
            .options(**_opts(bulk_enabled=False))
            .load()
            .collect()
        )
        key = lambda r: r.Id
        assert sorted(bulk, key=key) == sorted(std, key=key)

    def test_partitioned_read_complete_and_disjoint(self, registered):
        df = (
            registered.read.format("salesforce")
            .options(**_opts(numpartitions="8"))
            .load()
        )
        ids = [r.Id for r in df.collect()]
        assert sorted(ids) == ["001A", "001B"]  # no dup, no loss across ranges

    def test_filter_returns_correct_rows(self, registered):
        df = (
            registered.read.format("salesforce")
            .options(**_opts())
            .load()
            .filter(F.col("Industry") == "Finance")
        )
        rows = df.collect()
        assert [r.Id for r in rows] == ["001B"]


class TestPushdown:
    def _reader(self):
        opts = _opts()
        return SalesforceReader(opts, SalesforceDataSource(opts).schema())

    def test_supported_filters_become_soql(self):
        r = self._reader()
        rest = list(
            r.pushFilters(
                [
                    EqualTo(("Industry",), "Finance"),
                    GreaterThan(("NumberOfEmployees",), 100),
                ]
            )
        )
        assert rest == []
        assert "Industry = 'Finance'" in r.pushed
        assert "NumberOfEmployees > 100" in r.pushed

    def test_unsupported_filters_handed_back(self):
        r = self._reader()
        unsupported = [IsNotNull(("Industry",)), StringContains(("Name",), "Ac")]
        rest = list(r.pushFilters(unsupported))
        assert rest == unsupported
        assert r.pushed == []

    def test_date_filter_pushes_unquoted_literal(self):
        # SOQL date literals are bare YYYY-MM-DD; a live org rejects quotes
        r = self._reader()
        rest = list(r.pushFilters([GreaterThan(("CloseDate",), datetime.date(2024, 1, 1))]))
        assert rest == []
        assert r.pushed == ["CloseDate > 2024-01-01"]

    def test_pushed_filter_prunes_server_side(self):
        # run read() directly: the mock transport interprets the WHERE,
        # so only matching rows ever leave the "server"
        r = self._reader()
        list(r.pushFilters([EqualTo(("Industry",), "Finance")]))
        part = r.partitions()[0]
        rows = list(r.read(part)) if len(r.partitions()) == 1 else [
            row for p in r.partitions() for row in r.read(p)
        ]
        assert len(rows) == 1  # only Globex


class TestRangeBounds:
    def test_bounds_cover_keyspace_without_overlap(self):
        for n in (1, 2, 4, 16, 62, 100):
            bounds = pk_range_bounds(n)
            assert bounds[0][0] is None and bounds[-1][1] is None
            for (_, hi), (lo, _) in zip(bounds, bounds[1:]):
                assert hi == lo  # contiguous half-open ranges


class TestStreamReader:
    def _stream_reader(self, version=1):
        opts = _opts(version)
        return SalesforceStreamReader(opts, SalesforceDataSource(opts).schema())

    def test_initial_offset_is_reference_epoch(self):
        r = self._stream_reader()
        assert r.initialOffset() == {"cursor": "2000-01-01T00:00:00.000000Z"}

    def test_read_advances_cursor_then_drains(self):
        r = self._stream_reader()
        rows, end = r.read(r.initialOffset())
        rows = list(rows)
        assert len(rows) == 2
        # cursor advanced to the max SystemModstamp (001B at day 3)
        assert end == {"cursor": "2024-01-03T00:00:00.000000Z"}
        # second poll from the new offset: strict `>` -> nothing new
        rows2, end2 = r.read(end)
        assert list(rows2) == [] and end2 == end

    def test_incremental_poll_sees_only_new_rows(self):
        r1 = self._stream_reader(version=1)
        _, end = r1.read(r1.initialOffset())
        # org moves to v2 (001B updated day 10, 001C created day 9)
        r2 = self._stream_reader(version=2)
        rows, end2 = r2.read(end)
        ids = sorted(row[0] for row in rows)
        assert ids == ["001B", "001C"]
        assert end2 == {"cursor": "2024-01-10T00:00:00.000000Z"}

    def test_read_between_offsets_replays_deterministically(self):
        r = self._stream_reader(version=2)
        start = {"cursor": "2024-01-03T00:00:00.000000Z"}
        end = {"cursor": "2024-01-09T00:00:00.000000Z"}
        replay1 = sorted(list(r.readBetweenOffsets(start, end)))
        replay2 = sorted(list(r.readBetweenOffsets(start, end)))
        assert replay1 == replay2
        # inclusive upper bound, exclusive lower: only 001C (day 9)
        assert [row[0] for row in replay1] == ["001C"]

    def test_end_to_end_micro_batch(self, registered, tmp_path):
        q = (
            registered.readStream.format("salesforce")
            .options(**_opts())
            .load()
            .writeStream.format("memory")
            .queryName("sf_stream_accounts")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        out = registered.sql("SELECT Id FROM sf_stream_accounts").collect()
        assert sorted(r.Id for r in out) == ["001A", "001B"]


class TestDescribeOnce:
    @pytest.mark.parametrize("kind", ["batch", "stream"])
    def test_one_describe_per_read(self, monkeypatch, kind):
        # the schema's describe() is the read's only one: the readers
        # take projection and datetime fields from the schema they get
        calls = []
        describe = MockTransport.describe
        monkeypatch.setattr(
            MockTransport, "describe", lambda self, s: calls.append(s) or describe(self, s)
        )
        ds = SalesforceDataSource(_opts())
        schema = ds.schema()
        if kind == "batch":
            r = ds.reader(schema)
            rows = [row for p in r.partitions() for row in r.read(p)]
        else:
            r = ds.simpleStreamReader(schema)
            rows, _ = r.read(r.initialOffset())
        assert len(rows) == 2
        assert calls == ["Account"]


class TestDateFields:
    """describe type ``date`` ("YYYY-MM-DD" on the wire in both shapes)
    lands as DateType."""

    DESCRIBE = [f("Id", "id"), f("CloseDate", "date"), f("SystemModstamp", "datetime")]
    ROWS = [
        {"Id": "006A", "CloseDate": "2024-03-31", "SystemModstamp": "2024-01-02T00:00:00.000000Z"},
        {"Id": "006B", "CloseDate": None, "SystemModstamp": "2024-01-03T00:00:00.000000Z"},
    ]
    WANT = [("006A", datetime.date(2024, 3, 31)), ("006B", None)]

    def _options(self, bulk_enabled):
        t = MockTransport(
            describes={"Opportunity": self.DESCRIBE},
            data={"Opportunity": self.ROWS},
            bulk_enabled=bulk_enabled,
        )
        return datasource_options(t, sobject="Opportunity")

    @pytest.mark.parametrize("bulk_enabled", [True, False], ids=["bulk", "standard"])
    def test_batch_read(self, registered, bulk_enabled):
        df = registered.read.format("salesforce").options(**self._options(bulk_enabled)).load()
        assert dict(df.dtypes)["CloseDate"] == "date"
        assert sorted((r.Id, r.CloseDate) for r in df.collect()) == self.WANT

    @pytest.mark.parametrize("bulk_enabled", [True, False], ids=["bulk", "standard"])
    def test_stream_rows(self, bulk_enabled):
        ds = SalesforceDataSource(self._options(bulk_enabled))
        r = ds.simpleStreamReader(ds.schema())
        rows, _ = r.read(r.initialOffset())
        assert sorted(row[:2] for row in rows) == self.WANT
