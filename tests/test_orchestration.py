"""Orchestration flow tests (§3.2/§3.3 parity) + check_tables."""

from __future__ import annotations

import uuid

import pytest

from dlt_salesforce_iceberg_rest_demo_spark import orchestration as orch
from dlt_salesforce_iceberg_rest_demo_spark.check_tables import check_tables
from dlt_salesforce_iceberg_rest_demo_spark.pipeline import SalesforcePipeline
from dlt_salesforce_iceberg_rest_demo_spark.sinks.dispositions import ParquetLake
from dlt_salesforce_iceberg_rest_demo_spark.state import StateStore

from .fixtures_salesforce import make_transport

FULL_CONFIG = {
    "SOURCES__SALESFORCE__CREDENTIALS__USER_NAME": "u",
    "SOURCES__SALESFORCE__CREDENTIALS__PASSWORD": "p",
    "SOURCES__SALESFORCE__CREDENTIALS__SECURITY_TOKEN": "t",
    "ICEBERG_CATALOG_URL": "http://localhost:8181/catalog",
    "ICEBERG_WAREHOUSE": "wh",
    "ICEBERG_NAMESPACE": "salesforce_data",
    "ICEBERG_TOKEN": "tok",
}


def make_pipeline(spark, tmp_path):
    return SalesforcePipeline(
        spark,
        make_transport(1),
        ParquetLake(spark, tmp_path / "lake"),
        StateStore(tmp_path / "state.json"),
    )


class TestValidateConfiguration:
    def test_missing_vars_rejected(self, monkeypatch):
        for var in orch.REQUIRED_VARS:
            monkeypatch.delenv(var, raising=False)
        with pytest.raises(ValueError, match="Missing required variables"):
            orch.validate_configuration()

    def test_overrides_and_defaults(self):
        config = orch.validate_configuration(FULL_CONFIG)
        # optional vars defaulted exactly like the reference DAG
        assert config["WRITE_DISPOSITION"] == "force_replace"
        assert (
            config["SALESFORCE_RESOURCES"]
            == "account,contact,opportunity,opportunity_contact_role"
        )
        assert config["BATCH_SIZE"] == "1000"

    def test_env_fallback(self, monkeypatch):
        for var, v in FULL_CONFIG.items():
            monkeypatch.setenv(var, v)
        assert orch.validate_configuration()["ICEBERG_WAREHOUSE"] == "wh"


class TestFlow:
    def test_full_flow(self, spark, tmp_path, capsys, monkeypatch):
        monkeypatch.setenv("SALESFORCE_RESOURCES", "account,contact")
        pipeline = make_pipeline(spark, tmp_path)
        overrides = dict(FULL_CONFIG)
        overrides["SALESFORCE_RESOURCES"] = "account,contact"
        # the four tasks in the order both orchestrator builders wire them
        config = orch.validate_configuration(overrides)
        result = orch.run_pipeline_task(pipeline, config)
        verification = orch.verify_data_load(pipeline.lake, result)
        summary = orch.print_result(verification)
        assert summary == {
            "tables_verified": 2,
            "tables_total": 2,
            "total_records": 4,
        }
        out = capsys.readouterr().out
        assert "OK  account" in out and "2/2 tables verified" in out

    def test_env_restored_after_run(self, spark, tmp_path, monkeypatch):
        monkeypatch.delenv("ICEBERG_WAREHOUSE", raising=False)
        pipeline = make_pipeline(spark, tmp_path)
        config = orch.validate_configuration(FULL_CONFIG)
        config["SALESFORCE_RESOURCES"] = "account"
        orch.run_pipeline_task(pipeline, config)
        import os

        assert os.environ.get("ICEBERG_WAREHOUSE") is None  # finally-restore

    def test_verify_reports_missing_table(self, spark, tmp_path):
        pipeline = make_pipeline(spark, tmp_path)
        result = {
            "status": "success",
            "config": {"SALESFORCE_RESOURCES": "account,ghost"},
            "message": "",
        }
        config = orch.validate_configuration(FULL_CONFIG)
        config["SALESFORCE_RESOURCES"] = "account"
        orch.run_pipeline_task(pipeline, config)
        verification = orch.verify_data_load(pipeline.lake, result)
        res = verification["verification_results"]
        assert res["account"]["status"] == "success"
        assert res["ghost"]["status"] == "error"  # per-table isolation

    def test_failed_pipeline_blocks_verification(self, spark, tmp_path):
        pipeline = make_pipeline(spark, tmp_path)
        with pytest.raises(ValueError, match="Pipeline failed"):
            orch.verify_data_load(
                pipeline.lake, {"status": "error", "message": "boom", "config": {}}
            )


class TestCheckTables:
    def test_report_shape(self, spark, tmp_path):
        pipeline = make_pipeline(spark, tmp_path)
        config = orch.validate_configuration(FULL_CONFIG)
        config["SALESFORCE_RESOURCES"] = "account,contact"
        orch.run_pipeline_task(pipeline, config)
        report = check_tables(pipeline.lake)
        assert set(report) == {"account", "contact"}
        acct = report["account"]
        assert acct["n_rows"] == 2
        assert len(acct["sample"]) <= 3
        assert len(acct["sample_columns"]) <= 5
        assert acct["location"].endswith("account")

    def test_n_rows_is_the_live_count_in_one_job_per_table(self, spark, tmp_path):
        lake = ParquetLake(spark, tmp_path / "lake")
        schema = "id long, version long, op string, v string"
        log = [(1, 1, "I", "a"), (2, 1, "I", "b"), (3, 1, "I", "c"), (4, 2, "D", None)]
        lake.merge_cdc(spark.createDataFrame(log, schema), "cdc", "id", guard_stale=True)
        lake.merge_cdc(
            spark.createDataFrame([(2, 5, "D", None)], schema), "cdc", "id", guard_stale=True
        )
        assert lake.read("cdc", with_tombstones=True).count() == 4  # 2 tombstones
        lake.replace(spark.createDataFrame([(1, "x")], "id long, v string"), "truncated")
        lake.replace(spark.createDataFrame([], "id long, v string"), "truncated")
        lake.replace(spark.range(1000).withColumnRenamed("id", "k"), "wide")
        lake.create_table("empty", spark.range(0).schema)

        sc = spark.sparkContext
        group = f"check-tables-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "check_tables")
        try:
            report = check_tables(lake)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()

        assert list(report) == lake.list_tables()
        assert {t: r["n_rows"] for t, r in report.items()} == {
            t: lake.count(t) for t in lake.list_tables()
        }
        assert report["cdc"]["n_rows"] == 2 and report["truncated"]["n_rows"] == 0
        assert [row[0] for row in report["wide"]["sample"]] == [0, 1, 2]
        # one job per table: the sample's scan, which also counts
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == len(report)


class _FakeAirflowModule:
    """Minimal stand-in for airflow.decorators: @task returns the bare
    function (TaskFlow calls execute eagerly), @dag records its kwargs
    and returns a callable that runs the wired flow. Executing the real
    build_airflow_dag through this exercises the exact task bodies and
    dependency chain the Airflow scheduler would run."""

    def __init__(self):
        self.dag_kwargs = None

    def dag(self, **kwargs):
        self.dag_kwargs = kwargs

        def deco(fn):
            def build():
                fn()
                return {"dag_id": kwargs.get("dag_id"), "flow": fn.__name__}

            return build

        return deco

    def task(self, fn):
        return fn


class TestBuildAirflowDag:
    def test_dag_builds_and_executes_flow(self, spark, tmp_path, monkeypatch, capsys):
        import sys
        import types

        fake = _FakeAirflowModule()
        mod_decorators = types.ModuleType("airflow.decorators")
        mod_decorators.dag = fake.dag
        mod_decorators.task = fake.task
        mod_airflow = types.ModuleType("airflow")
        mod_airflow.decorators = mod_decorators
        monkeypatch.setitem(sys.modules, "airflow", mod_airflow)
        monkeypatch.setitem(sys.modules, "airflow.decorators", mod_decorators)
        for k, v in FULL_CONFIG.items():
            monkeypatch.setenv(k, v)
        monkeypatch.setenv("SALESFORCE_RESOURCES", "account,contact")

        pipeline = make_pipeline(spark, tmp_path)
        dag = orch.build_airflow_dag(lambda: pipeline)

        # DAG metadata mirrors the reference
        # (airflow/dags/salesforce_iceberg_dag.py:17-25)
        assert fake.dag_kwargs["dag_id"] == "salesforce_iceberg_pipeline"
        assert fake.dag_kwargs["default_args"]["retries"] == 1
        assert "salesforce" in fake.dag_kwargs["tags"]
        assert dag["dag_id"] == "salesforce_iceberg_pipeline"
        # the eager flow really loaded the lake and printed the rollup
        assert set(pipeline.lake.list_tables()) >= {"account", "contact"}
        out = capsys.readouterr().out
        assert "tables verified" in out

    def test_dag_flow_fails_on_missing_config(self, spark, tmp_path, monkeypatch):
        import sys
        import types

        fake = _FakeAirflowModule()
        mod_decorators = types.ModuleType("airflow.decorators")
        mod_decorators.dag = fake.dag
        mod_decorators.task = fake.task
        mod_airflow = types.ModuleType("airflow")
        mod_airflow.decorators = mod_decorators
        monkeypatch.setitem(sys.modules, "airflow", mod_airflow)
        monkeypatch.setitem(sys.modules, "airflow.decorators", mod_decorators)
        for var in orch.REQUIRED_VARS:
            monkeypatch.delenv(var, raising=False)
        with pytest.raises(ValueError, match="Missing required variables"):
            orch.build_airflow_dag(lambda: make_pipeline(spark, tmp_path))


class TestBuildDagsterAssets:
    def test_multi_asset_yields_reference_metadata(self, spark, tmp_path, monkeypatch):
        import sys
        import types

        recorded = {}

        class AssetOut:
            def __init__(self, key_prefix=None):
                self.key_prefix = key_prefix

        class Output:
            def __init__(self, value, output_name, metadata):
                self.value = value
                self.output_name = output_name
                self.metadata = metadata

        def multi_asset(**kwargs):
            recorded.update(kwargs)

            def deco(fn):
                return fn

            return deco

        mod = types.ModuleType("dagster")
        mod.multi_asset = multi_asset
        mod.AssetOut = AssetOut
        mod.Output = Output
        monkeypatch.setitem(sys.modules, "dagster", mod)
        for k, v in FULL_CONFIG.items():
            monkeypatch.setenv(k, v)
        monkeypatch.setenv("SALESFORCE_RESOURCES", "account,contact")

        pipeline = make_pipeline(spark, tmp_path)
        (asset_fn,) = orch.build_dagster_assets(lambda: pipeline)
        outputs = list(asset_fn())

        # outs declared per default resource with the salesforce prefix
        # (dagster/.../dlt_salesforce.py:41-46)
        from dlt_salesforce_iceberg_rest_demo_spark.config import DEFAULT_RESOURCES

        assert set(recorded["outs"]) == set(DEFAULT_RESOURCES)
        assert all(o.key_prefix == "salesforce" for o in recorded["outs"].values())
        # one Output per resource with the reference's metadata surface
        # (rows_loaded, write_disposition, load_ids — :90-127)
        assert {o.output_name for o in outputs} == set(DEFAULT_RESOURCES)
        for o in outputs:
            assert set(o.metadata) >= {
                "rows_loaded",
                "write_disposition",
                "load_ids",
            }
            assert o.metadata["rows_loaded"] >= 0
        loaded = {
            o.output_name: o.metadata["rows_loaded"] for o in outputs
        }
        assert loaded["account"] > 0  # the mock org really loaded
