"""Orchestration wrappers: the reference's Dagster asset and Airflow DAG
flows (SURVEY.md §3.2/§3.3), framework-free.

The reference wires the same four steps in both orchestrators
(airflow/dags/salesforce_iceberg_dag.py:28-186;
dagster/.../defs/assets/dlt_salesforce.py:40-182):

1. validate_configuration - required vars with env fallback (:39-77);
2. run pipeline           - config exported to env, `load()` (:80-95);
3. verify_data_load       - per-resource scan + record count (:98-146);
4. print_result           - success counts + total records (:149-178).

Here each step is a plain function over the engine's own objects so any
orchestrator (Dagster op, Airflow task, cron + spark-submit) can wrap
them 1:1; `build_airflow_dag()` / `build_dagster_assets()` produce the
framework objects when those packages exist (they don't ship in this
environment - gated, like the reference's own optional stacks).
The reference's env-var round-trip (set, run, restore in `finally`,
dagster asset :60-72,139-145) is preserved in `run_pipeline_task`.
"""

from __future__ import annotations

import os
from typing import Any

from .config import DEFAULT_RESOURCES
from .pipeline import SalesforcePipeline

# airflow dag :43-51 - credential trio + catalog coordinates.
REQUIRED_VARS = (
    "SOURCES__SALESFORCE__CREDENTIALS__USER_NAME",
    "SOURCES__SALESFORCE__CREDENTIALS__PASSWORD",
    "SOURCES__SALESFORCE__CREDENTIALS__SECURITY_TOKEN",
    "ICEBERG_CATALOG_URL",
    "ICEBERG_WAREHOUSE",
    "ICEBERG_NAMESPACE",
    "ICEBERG_TOKEN",
)

# airflow dag :66-71 - defaults mirror the reference exactly.
OPTIONAL_VARS = {
    "WRITE_DISPOSITION": "force_replace",
    "SALESFORCE_RESOURCES": ",".join(DEFAULT_RESOURCES),
    "BATCH_SIZE": "1000",
}


def validate_configuration(
    overrides: dict[str, str] | None = None,
) -> dict[str, str]:
    """Step 1: collect required vars (overrides -> env fallback, the
    Airflow Variable/env duality) and the defaulted optionals; raise on
    anything missing (airflow dag :52-64)."""
    overrides = overrides or {}
    config: dict[str, str] = {}
    missing = []
    for var in REQUIRED_VARS:
        value = overrides.get(var) or os.getenv(var)
        if not value:
            missing.append(var)
        else:
            config[var] = value
    if missing:
        raise ValueError(f"Missing required variables: {missing}")
    for var, default in OPTIONAL_VARS.items():
        config[var] = overrides.get(var) or os.getenv(var, default)
    return config


def run_pipeline_task(
    pipeline: SalesforcePipeline, config: dict[str, str]
) -> dict[str, Any]:
    """Step 2: export config to env (restored afterwards - the dagster
    asset's set/run/restore-in-finally dance, :60-72,139-145) and run
    the engine pipeline."""
    saved = {k: os.environ.get(k) for k in config}
    try:
        for k, v in config.items():
            os.environ[k] = str(v)
        resources = tuple(
            r.strip() for r in config["SALESFORCE_RESOURCES"].split(",") if r.strip()
        )
        force_replace = config.get("WRITE_DISPOSITION") == "force_replace"
        info = pipeline.run(resources, force_replace=force_replace)
        return {
            "status": "success",
            "message": "Pipeline completed successfully",
            "config": config,
            "load_id": info.load_id,
            "total_rows": info.total_rows,
            "reports": {
                r.table: {
                    "write_disposition": r.disposition,
                    "rows_loaded": r.rows_written,
                }
                for r in info.reports
            },
        }
    finally:
        for k, old in saved.items():
            if old is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = old


def verify_data_load(lake, pipeline_result: dict[str, Any]) -> dict[str, Any]:
    """Step 3: per-resource scan + count against the lake - `df.count()`
    where the reference pulls the whole table to pandas
    (airflow dag :118-140)."""
    if pipeline_result["status"] != "success":
        raise ValueError(f"Pipeline failed: {pipeline_result['message']}")
    resources = [
        r.strip()
        for r in pipeline_result["config"]["SALESFORCE_RESOURCES"].split(",")
    ]
    results: dict[str, Any] = {}
    for resource in resources:
        try:
            results[resource] = {
                "status": "success",
                "record_count": lake.count(resource),
                "table_location": lake.table_location(resource),
            }
        except Exception as e:  # noqa: BLE001 - per-table isolation like :135-140
            results[resource] = {"status": "error", "error": str(e)}
    return {
        "status": "success",
        "verification_results": results,
        "total_tables": len(resources),
    }


def print_result(verification: dict[str, Any]) -> dict[str, Any]:
    """Step 4: success-count + total-records rollup (A4,
    airflow dag :152-178)."""
    results = verification["verification_results"]
    success = sum(1 for r in results.values() if r["status"] == "success")
    total_records = sum(
        r.get("record_count", 0) for r in results.values() if r["status"] == "success"
    )
    summary = {
        "tables_verified": success,
        "tables_total": verification["total_tables"],
        "total_records": total_records,
    }
    for name, r in results.items():
        mark = "OK " if r["status"] == "success" else "ERR"
        detail = (
            f"{r.get('record_count', 0):,} records"
            if r["status"] == "success"
            else r.get("error", "")
        )
        print(f"{mark} {name}: {detail}")
    print(
        f"{summary['tables_verified']}/{summary['tables_total']} tables verified, "
        f"{summary['total_records']:,} total records"
    )
    return summary


def build_airflow_dag(pipeline_factory):  # pragma: no cover - needs airflow
    """Airflow TaskFlow DAG mirroring salesforce_iceberg_dag.py:28-186
    (import-gated: airflow is not installed here)."""
    from airflow.decorators import dag, task  # type: ignore
    from datetime import timedelta

    @dag(
        dag_id="salesforce_iceberg_pipeline",
        description="Load Salesforce data into the lake using Spark",
        default_args={"retries": 1, "retry_delay": timedelta(seconds=30)},
        catchup=False,
        tags=["salesforce", "iceberg", "spark"],
    )
    def salesforce_iceberg_pipeline():
        @task
        def t_validate():
            return validate_configuration()

        @task
        def t_run(config):
            return run_pipeline_task(pipeline_factory(), config)

        @task
        def t_verify(result):
            return verify_data_load(pipeline_factory().lake, result)

        @task
        def t_print(verification):
            return print_result(verification)

        t_print(t_verify(t_run(t_validate())))

    return salesforce_iceberg_pipeline()


def build_dagster_assets(pipeline_factory):  # pragma: no cover - needs dagster
    """Dagster multi-asset mirroring dlt_salesforce.py:40-182
    (import-gated: dagster is not installed here)."""
    import dagster as dg  # type: ignore

    @dg.multi_asset(
        outs={
            name: dg.AssetOut(key_prefix="salesforce") for name in DEFAULT_RESOURCES
        }
    )
    def salesforce_core_assets():
        pipeline = pipeline_factory()
        config = validate_configuration()
        result = run_pipeline_task(pipeline, config)
        for name in DEFAULT_RESOURCES:
            rep = result["reports"].get(name, {})
            yield dg.Output(
                value=name,
                output_name=name,
                metadata={
                    "rows_loaded": rep.get("rows_loaded", 0),
                    "write_disposition": rep.get("write_disposition", ""),
                    "pipeline_name": "salesforce_iceberg",
                    "load_ids": [result["load_id"]],
                },
            )

    return [salesforce_core_assets]
