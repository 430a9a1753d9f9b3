"""End-to-end pipeline: the Spark-native `load()`
(/root/reference/salesforce_pipeline.py:179-206, §3.1 of SURVEY.md).

The selected resources load side by side, one thread each
(:func:`session.concurrently`; dlt extracts each resource in its own
worker and keeps one writer per table per run). A resource named twice
is refused before anything is extracted. Per resource:

1. read the last cursor from the state store (dlt incremental parity);
2. extract through the transport with P1-P5 pushdown (Bulk -> Standard
   fallback) and land the batch already normalized (dlt normalize stage
   parity): ``read_object(..., load_id=)`` builds one driver-side Arrow
   table with snake_case names, `_dlt_load_id`/`_dlt_id` lineage,
   native timestamps and the cursor column marked in its field
   metadata - the table's columns, with no projection to run;
3. write with the resource's disposition (replace / merge-on-Id /
   append fallback). The lake writes the Arrow batch from the driver,
   as the reference's destination does (``i_table.append(pa_table)``):
   only a merge into a table that has data runs Spark jobs, for its
   copy-on-write rewrite. An empty batch for a table that exists is not
   written unless it replaces (an idle poll, which dlt never sends to
   the destination either);
4. advance the cursor to the max replication value of the batch, which
   the lake write reads from the Arrow batch on the driver
   (``WriteReport.cursor``; no job), once that resource's write has
   returned.

A resource that fails does not stop the others: they finish, commit and
advance their cursors; the failed resource's cursor stays where it was,
and ``run`` raises its error once every resource is done. The reports
and cursors of a successful run are in resource order.

`force_replace` (W6, salesforce_pipeline.py:32-34,184-203): every
resource is written as replace and the state store is wiped first.

Steps 2-3 hold each batch as one Arrow table from the transport to
the Parquet file - no intermediate materialization (the reference
stages dicts -> parquet job files -> arrow batches between its three
dlt stages).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from .config import DEFAULT_RESOURCES, RESOURCES, ResourceConfig
from .normalize import new_load_id, snake_case
from .session import concurrently
from .sinks.dispositions import ParquetLake, WriteReport, falls_back_to_append
from .sources.salesforce import Transport, read_object
from .state import StateStore


@dataclass
class LoadInfo:
    """Printed at the end of a run (salesforce_pipeline.py:210) and mined
    by the Dagster asset for per-table metadata
    (dagster/.../dlt_salesforce.py:90-127)."""

    load_id: str
    reports: list[WriteReport] = field(default_factory=list)
    cursors: dict[str, str] = field(default_factory=dict)

    @property
    def total_rows(self) -> int:
        return sum(r.rows_written for r in self.reports)


class SalesforcePipeline:
    def __init__(
        self,
        spark: SparkSession,
        transport: Transport,
        lake: ParquetLake,
        state: StateStore,
        *,
        is_production: bool = True,
    ) -> None:
        self.spark = spark
        self.transport = transport
        self.lake = lake
        self.state = state
        self.is_production = is_production

    def run(
        self,
        resources: tuple[str, ...] = DEFAULT_RESOURCES,
        *,
        force_replace: bool = False,
        load_id: str | None = None,
        audit=None,
    ) -> LoadInfo:
        """Load the selected resources, side by side (see the module
        docstring). With ``audit`` set (a callable
        ``(DataFrame, table_name) -> bool``), every resource runs in
        WRITE-AUDIT-PUBLISH mode: the batch lands on a per-load BRANCH
        (``wap_{load_id}``), the audit inspects the branch's full table
        state, and only a passing audit fast-forwards main — a failing
        one drops the branch, leaves main untouched, and does NOT
        advance the incremental cursor (the failed batch re-extracts
        next run). ``audit`` is called on the resource's own thread, so
        several calls may run at once. The governed-ingestion upgrade
        the reference cannot express (PyIceberg single-writer, no
        branches; SURVEY §2.4).
        """
        repeated = sorted({n for n in resources if resources.count(n) > 1})
        if repeated:
            raise ValueError(f"resources named more than once: {repeated}")
        configs = [RESOURCES[name] for name in resources]
        if force_replace:
            self.state.reset()
        info = LoadInfo(load_id=load_id or new_load_id())
        loaded = concurrently(
            lambda cfg: self._load_resource(cfg, info.load_id, force_replace, audit),
            configs,
        )
        for cfg, (report, cursor) in zip(configs, loaded):
            info.reports.append(report)
            if cursor is not None:
                info.cursors[cfg.name] = cursor
        return info

    def _load_resource(
        self, cfg: ResourceConfig, load_id: str, force_replace: bool, audit=None
    ) -> tuple[WriteReport, str | None]:
        last_state = (
            None
            if force_replace
            else (
                self.state.get(cfg.name, cfg.initial_value)
                if cfg.replication_key
                else None
            )
        )
        batch = read_object(
            self.spark,
            self.transport,
            cfg.sobject,
            last_state=last_state,
            replication_key=cfg.replication_key,
            is_production=self.is_production,
            load_id=load_id,
        )
        disposition = "replace" if force_replace else cfg.write_disposition
        pk = tuple(snake_case(k) for k in cfg.primary_key)
        # An idle poll: nothing to write.
        if (
            disposition != "replace"
            and self.lake.exists(cfg.name)
            and batch.num_rows == 0
        ):
            columns = self.lake.schema(cfg.name).fieldNames()
            fallback = falls_back_to_append(disposition, pk, columns)
            return WriteReport(cfg.name, disposition, 0, fallback_append=fallback), None

        if audit is not None:
            branch = f"wap_{load_id}"
            report = self.lake.write_to_branch(
                batch, cfg.name, disposition, pk, branch=branch
            )
            if audit(self.lake.read(cfg.name, branch), cfg.name):
                self.lake.fast_forward(cfg.name, branch)
                self.lake.drop_branch(cfg.name, branch)
            else:
                self.lake.drop_branch(cfg.name, branch)
                # failed audit: nothing published, cursor must not move
                return (
                    WriteReport(cfg.name, disposition, 0, fallback_append=False),
                    None,
                )
        else:
            report = self.lake.write(batch, cfg.name, disposition, pk)

        # The write has returned, so every row under report.cursor is
        # committed (a failed write or audit never reaches this line).
        if report.cursor is not None:
            self.state.advance(cfg.name, report.cursor)
        return report, report.cursor
