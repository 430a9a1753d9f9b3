"""End-to-end pipeline runs over the mock org: incremental merge,
replace snapshots, no-PK fallback, force_replace - §3.1 of SURVEY.md."""

from __future__ import annotations

import logging
import os
import threading

import pyarrow as pa
import pytest
from pyspark.sql import types as T

from dlt_salesforce_iceberg_rest_demo_spark import pipeline as pipeline_mod
from dlt_salesforce_iceberg_rest_demo_spark.config import RESOURCES
from dlt_salesforce_iceberg_rest_demo_spark.normalize import snake_case
from dlt_salesforce_iceberg_rest_demo_spark.pipeline import SalesforcePipeline
from dlt_salesforce_iceberg_rest_demo_spark.sinks import dispositions
from dlt_salesforce_iceberg_rest_demo_spark.sinks.dispositions import ParquetLake
from dlt_salesforce_iceberg_rest_demo_spark.state import StateStore

from .fixtures_salesforce import make_transport, ts


def make_pipeline(spark, tmp_path, version=1):
    return SalesforcePipeline(
        spark,
        make_transport(version),
        ParquetLake(spark, tmp_path / "lake"),
        StateStore(tmp_path / "state.json"),
    )


def account_rows(p):
    return {r["id"]: r.asDict() for r in p.lake.read("account").collect()}


class TestIncrementalMerge:
    def test_two_runs_upsert(self, spark, tmp_path):
        p1 = make_pipeline(spark, tmp_path, version=1)
        info1 = p1.run(("account",))
        assert p1.lake.count("account") == 2
        # cursor advanced to the max LastModifiedDate in the load
        assert info1.cursors["account"].startswith("2024-01-03")
        assert p1.state.get("account") == info1.cursors["account"]

        # second run against the updated org: only >cursor rows extracted
        p2 = make_pipeline(spark, tmp_path, version=2)
        p2.run(("account",))
        rows = account_rows(p2)
        assert len(rows) == 3
        assert rows["001B"]["annual_revenue"] == 7_500_000.0  # updated in place
        assert rows["001C"]["name"] == "Initech"  # new row inserted
        assert rows["001A"]["annual_revenue"] == 1_000_000.0  # untouched
        # the incremental query only pulled the 2 changed rows
        assert "WHERE LastModifiedDate >" in p2.transport.queries_seen[-1]

    def test_rerun_without_changes_is_noop(self, spark, tmp_path):
        p1 = make_pipeline(spark, tmp_path, version=1)
        p1.run(("account",))
        p1b = make_pipeline(spark, tmp_path, version=1)
        p1b.run(("account",))
        assert p1b.lake.count("account") == 2  # idempotent (I4)

    def test_snake_case_and_lineage(self, spark, tmp_path):
        p = make_pipeline(spark, tmp_path)
        info = p.run(("account",))
        cols = p.lake.read("account").columns
        assert "last_modified_date" in cols  # CamelCase -> snake_case
        assert "_dlt_load_id" in cols and "_dlt_id" in cols  # lineage (T5)
        vals = p.lake.read("account").select("_dlt_load_id").distinct().collect()
        assert [v["_dlt_load_id"] for v in vals] == [info.load_id]


class TestReplaceResource:
    def test_snapshot_supplants(self, spark, tmp_path):
        p1 = make_pipeline(spark, tmp_path, version=1)
        p1.run(("contact",))
        assert p1.lake.count("contact") == 2
        p2 = make_pipeline(spark, tmp_path, version=2)
        p2.run(("contact",))
        rows = {r["id"] for r in p2.lake.read("contact").collect()}
        assert rows == {"003B"}  # full snapshot replaced; 003A gone


class TestNoPkMerge:
    def test_task_falls_back_to_append(self, spark, tmp_path):
        # task/event: merge disposition, no primary key (I2) -> W4 append
        p = make_pipeline(spark, tmp_path)
        info = p.run(("task",))
        assert info.reports[0].fallback_append
        assert p.lake.count("task") == 2


class TestForceReplace:
    def test_force_replace_resets_state_and_overwrites(self, spark, tmp_path):
        p1 = make_pipeline(spark, tmp_path, version=1)
        p1.run(("account",))
        assert p1.state.get("account") is not None
        p2 = make_pipeline(spark, tmp_path, version=2)
        info = p2.run(("account",), force_replace=True)
        # W6: every resource written as replace, full re-extract
        assert info.reports[0].disposition == "replace"
        assert p2.lake.count("account") == 3

    def test_default_resources_selection(self, spark, tmp_path):
        from dlt_salesforce_iceberg_rest_demo_spark.config import DEFAULT_RESOURCES

        assert DEFAULT_RESOURCES == (
            "account",
            "contact",
            "opportunity",
            "opportunity_contact_role",
        )


class TestLoadInfo:
    def test_total_rows(self, spark, tmp_path):
        p = make_pipeline(spark, tmp_path)
        info = p.run(("account", "contact"))
        assert info.total_rows == 4
        assert [r.table for r in info.reports] == ["account", "contact"]


class TestWriteAuditPublish:
    """WAP mode: passing audits publish via fast-forward; failing audits
    leave main AND the incremental cursor untouched."""

    def test_passing_audit_publishes(self, spark, tmp_path):
        p = make_pipeline(spark, tmp_path, version=1)
        audited = []

        def audit(df, table):
            audited.append((table, df.count()))
            return True

        info = p.run(("account",), audit=audit)
        assert audited and audited[0][0] == "account" and audited[0][1] == 2
        assert p.lake.count("account") == 2          # published to main
        assert info.cursors["account"].startswith("2024-01-03")
        assert p.lake.branches("account") == {}      # staging branch dropped

    def test_failing_audit_blocks_publish_and_cursor(self, spark, tmp_path):
        p = make_pipeline(spark, tmp_path, version=1)
        p.run(("account",))  # seed main + cursor
        v0 = p.lake.current_version("account")
        cursor0 = p.state.get("account")

        p2 = make_pipeline(spark, tmp_path, version=2)
        info = p2.run(("account",), audit=lambda df, table: False)
        assert p2.lake.current_version("account") == v0   # main untouched
        assert p2.state.get("account") == cursor0         # cursor frozen
        assert info.total_rows == 0
        assert p2.lake.branches("account") == {}          # branch dropped
        # the failed batch re-extracts and publishes on the next good run
        p3 = make_pipeline(spark, tmp_path, version=2)
        p3.run(("account",), audit=lambda df, table: True)
        assert p3.lake.count("account") == 3

    def test_wap_incremental_upsert_semantics_preserved(self, spark, tmp_path):
        # WAP merge == plain merge results, just routed through a branch
        pa = make_pipeline(spark, tmp_path / "plain", version=1)
        pa.run(("account",))
        pa2 = make_pipeline(spark, tmp_path / "plain", version=2)
        pa2.run(("account",))
        plain = {r["id"]: r["annual_revenue"]
                 for r in pa2.lake.read("account").collect()}

        pb = make_pipeline(spark, tmp_path / "wap", version=1)
        pb.run(("account",), audit=lambda df, t: True)
        pb2 = make_pipeline(spark, tmp_path / "wap", version=2)
        pb2.run(("account",), audit=lambda df, t: True)
        wap = {r["id"]: r["annual_revenue"]
               for r in pb2.lake.read("account").collect()}
        assert wap == plain


class TestCursorFromTheWrite:
    """The cursor is the batch max the lake write reads on the driver;
    the state store only moves once the write has returned (the cursor
    never passes rows that were not written)."""

    RESOURCES = ("account", "contact", "task")

    def test_incremental_run_issues_no_job_after_a_write(
        self, spark, tmp_path, monkeypatch
    ):
        sc = spark.sparkContext
        first, during, after = (
            f"{name}-{tmp_path.name}" for name in ("first-load", "incremental", "after-write")
        )
        # Jobs a resource issues after its write returns land in `after`
        # until the next resource's extraction starts.
        read, write = pipeline_mod.read_object, ParquetLake.write
        group = {"extract": first}

        def read_spy(*args, **kwargs):
            sc.setJobGroup(group["extract"], "extract and write")
            return read(*args, **kwargs)

        def write_spy(self, *args, **kwargs):
            report = write(self, *args, **kwargs)
            sc.setJobGroup(after, "after the write")
            return report

        monkeypatch.setattr(pipeline_mod, "read_object", read_spy)
        monkeypatch.setattr(ParquetLake, "write", write_spy)
        try:
            make_pipeline(spark, tmp_path, version=1).run(self.RESOURCES)
            group["extract"] = during
            info = make_pipeline(spark, tmp_path, version=2).run(self.RESOURCES)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        assert set(info.cursors) == {"account"}  # task's poll found nothing new
        assert list(tracker.getJobIdsForGroup(after)) == []
        # the first load into an empty lake is written from the driver
        assert list(tracker.getJobIdsForGroup(first)) == []
        # merge into data: the copy-on-write rewrite; replace: none
        assert len(tracker.getJobIdsForGroup(during)) <= 2

    def test_failed_commit_leaves_the_cursor(self, spark, tmp_path, monkeypatch):
        p1 = make_pipeline(spark, tmp_path, version=1)
        p1.run(("account",))
        cursor0 = p1.state.get("account")

        def failing_commit(self, table, data_dirs, branch=None):
            raise OSError("commit interrupted")

        monkeypatch.setattr(ParquetLake, "_commit", failing_commit)
        p2 = make_pipeline(spark, tmp_path, version=2)
        with pytest.raises(OSError, match="commit interrupted"):
            p2.run(("account",))
        assert p2.state.get("account") == cursor0

    def test_cursor_is_the_batch_max_not_the_tables(self, spark, tmp_path):
        make_pipeline(spark, tmp_path, version=2).run(("account",))
        p = make_pipeline(spark, tmp_path, version=1)
        p.state.reset("account")
        info = p.run(("account",))
        # 001C (2024-01-09) stays in the merged table; the v1 batch tops
        # out at 001B's 2024-01-03
        table_max = p.lake.read("account").agg({"last_modified_date": "max"}).first()[0]
        assert table_max.day == 9
        assert info.cursors["account"].startswith("2024-01-03")
        assert p.state.get("account") == info.cursors["account"]
        # the cursor mark rides the batch, not the table schema
        assert not any(f.metadata for f in p.lake.schema("account").fields)


class TestLandedBatchReachesTheLake:
    """The batch lands normalized (``read_object(..., load_id=)``): the
    lake's write gets a driver-side Arrow table with the table's columns,
    keeps it on the driver with no schema alignment, and a merge into
    data hands its rewrite the batch as a bare ``LocalRelation``."""

    RESOURCES = ("account", "contact", "task")

    def test_write_gets_a_bare_local_relation(self, spark, tmp_path, monkeypatch):
        read, write = pipeline_mod.read_object, ParquetLake.write
        land, rewrite = ParquetLake._land, ParquetLake._rewrite
        reads, batches, kept, incoming = [], [], [], []

        def read_spy(spark_, transport, sobject, **kwargs):
            reads.append(sobject)
            return read(spark_, transport, sobject, **kwargs)

        def write_spy(self, batch, *args, **kwargs):
            batches.append(type(batch))
            return write(self, batch, *args, **kwargs)

        def land_spy(self, table, batch):
            out = land(self, table, batch)
            kept.append(isinstance(out, pa.Table))
            return out

        def rewrite_spy(self, table, ref, keys, rows):
            incoming.append(rows._jdf.queryExecution().analyzed().getClass().getSimpleName())
            return rewrite(self, table, ref, keys, rows)

        def no_alignment(df, target):
            raise AssertionError("a landed batch needs no alignment")

        monkeypatch.setattr(pipeline_mod, "read_object", read_spy)
        monkeypatch.setattr(ParquetLake, "write", write_spy)
        monkeypatch.setattr(ParquetLake, "_land", land_spy)
        monkeypatch.setattr(ParquetLake, "_rewrite", rewrite_spy)
        monkeypatch.setattr(dispositions, "align_to_schema", no_alignment)
        # the pipeline reads each resource once per run, through its own
        # binding (in no set order: the resources load side by side)
        make_pipeline(spark, tmp_path, version=1).run(self.RESOURCES)  # creates
        assert sorted(reads) == ["Account", "Contact", "Task"]
        reads.clear()
        make_pipeline(spark, tmp_path, version=2).run(self.RESOURCES)  # task idle
        assert sorted(reads) == ["Account", "Contact", "Task"]
        assert batches == [pa.Table] * 5
        assert kept == [True] * 5
        assert incoming == ["LocalRelation"]  # account's merge into data


class TestIdlePoll:
    """An incremental poll that finds nothing new, into a table that
    exists, is not written: no Spark job, no manifest, no data dir."""

    RESOURCES = ("account", "opportunity_contact_role", "task")
    IDLE = {"opportunity_contact_role": "OpportunityContactRole", "task": "Task"}

    def test_idle_polls_run_no_job_and_commit_nothing(
        self, spark, tmp_path, monkeypatch, caplog
    ):
        make_pipeline(spark, tmp_path, version=1).run(self.RESOURCES)
        p = make_pipeline(spark, tmp_path, version=2)
        files = {t: sorted(os.listdir(tmp_path / "lake" / t)) for t in self.IDLE}
        sc = spark.sparkContext
        read = pipeline_mod.read_object

        def group(sobject):
            return f"{tmp_path.name}-{sobject}"

        def read_spy(spark_, transport, sobject, **kwargs):
            # every job until the next resource's read is this resource's
            sc.setJobGroup(group(sobject), sobject)
            return read(spark_, transport, sobject, **kwargs)

        monkeypatch.setattr(pipeline_mod, "read_object", read_spy)
        caplog.clear()  # the first load's W4 warning
        with caplog.at_level(logging.WARNING, logger=dispositions.__name__):
            try:
                info = p.run(self.RESOURCES)
            finally:
                sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        assert len(tracker.getJobIdsForGroup(group("Account"))) > 0
        for table, sobject in self.IDLE.items():
            assert list(tracker.getJobIdsForGroup(group(sobject))) == [], table
            assert sorted(os.listdir(tmp_path / "lake" / table)) == files[table]
        # dlt never calls the destination for zero items: no W4 warning
        assert "falling back to append" not in caplog.text
        assert set(info.cursors) == {"account"}
        # the report is the one the lake gives for the same empty batch
        reports = {r.table: r for r in info.reports}
        for table, sobject in self.IDLE.items():
            cfg = RESOURCES[table]
            empty = read(
                spark,
                p.transport,
                sobject,
                last_state=p.state.get(table),
                replication_key=cfg.replication_key,
                load_id="L",
            )
            pk = tuple(snake_case(k) for k in cfg.primary_key)
            assert reports[table] == p.lake.write(empty, table, cfg.write_disposition, pk)
        assert reports["task"].fallback_append

    def test_idle_poll_under_audit_stages_nothing(self, spark, tmp_path):
        make_pipeline(spark, tmp_path, version=1).run(self.RESOURCES)
        audited = []
        p = make_pipeline(spark, tmp_path, version=2)
        info = p.run(self.RESOURCES, audit=lambda df, table: audited.append(table) or True)
        assert audited == ["account"]
        assert [r.rows_written for r in info.reports] == [2, 0, 0]
        assert all(p.lake.branches(t) == {} for t in self.RESOURCES)


class TestConcurrentResources:
    """The resources of a run load side by side, one writer per table;
    a failed resource stops neither the others nor their cursors."""

    RESOURCES = ("account", "contact", "task")

    def test_resources_extract_at_once(self, spark, tmp_path):
        p = make_pipeline(spark, tmp_path)
        # passes only if every resource is inside its extraction at once
        barrier = threading.Barrier(len(self.RESOURCES), timeout=30)
        query_bulk = p.transport.query_bulk

        def waiting_query_bulk(sobject, soql):
            barrier.wait()
            yield from query_bulk(sobject, soql)

        p.transport.query_bulk = waiting_query_bulk
        info = p.run(self.RESOURCES)
        # reports and cursors in resource order
        assert [r.table for r in info.reports] == list(self.RESOURCES)
        assert list(info.cursors) == ["account", "task"]
        assert [p.lake.count(t) for t in self.RESOURCES] == [2, 2, 2]

    def test_a_failed_resource_keeps_its_cursor_and_the_others_commit(
        self, spark, tmp_path
    ):
        make_pipeline(spark, tmp_path, version=1).run(("account",))
        p = make_pipeline(spark, tmp_path, version=2)
        cursor0 = p.state.get("account")
        query_bulk = p.transport.query_bulk

        def failing_query_bulk(sobject, soql):
            if sobject == "Account":
                raise ConnectionError("Account extraction failed")
            yield from query_bulk(sobject, soql)

        p.transport.query_bulk = failing_query_bulk
        with pytest.raises(ConnectionError, match="Account extraction failed"):
            p.run(self.RESOURCES)
        assert p.state.get("account") == cursor0
        assert p.lake.count("account") == 2
        # contact replaced by the v2 snapshot, task created, its cursor set
        assert {r["id"] for r in p.lake.read("contact").collect()} == {"003B"}
        assert p.lake.count("task") == 2
        assert p.state.get("task").startswith(ts(5)[:10])

    def test_a_resource_named_twice_is_refused_before_extraction(self, spark, tmp_path):
        p = make_pipeline(spark, tmp_path)
        with pytest.raises(ValueError, match="account"):
            p.run(("account", "contact", "account"))
        assert p.transport.queries_seen == []
        assert p.lake.list_tables() == []


class TestAllNullFieldsTypedByDescribe:
    """A field with no value in its batch lands with its describe type,
    so an empty first poll does not freeze numeric fields as strings."""

    def test_empty_first_poll_then_rows(self, spark, tmp_path, monkeypatch):
        p = make_pipeline(spark, tmp_path)
        p.transport.data = {**p.transport.data, "Account": []}
        p.run(("account",))
        types = {f.name: f.dataType for f in p.lake.schema("account").fields}
        assert types["annual_revenue"] == T.DoubleType()
        assert types["number_of_employees"] == T.LongType()

        land, kept = ParquetLake._land, []

        def land_spy(self, table, batch):
            out = land(self, table, batch)
            kept.append(isinstance(out, pa.Table))
            return out

        # the rows' batch has the empty poll's types: it stays on the
        # driver, with no alignment
        monkeypatch.setattr(ParquetLake, "_land", land_spy)
        make_pipeline(spark, tmp_path, version=1).run(("account",))
        assert kept == [True]
        rows = account_rows(p)
        assert rows["001A"]["annual_revenue"] == 1_000_000.0
        assert rows["001A"]["number_of_employees"] == 50
