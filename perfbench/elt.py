"""``elt_sync``: the reference's scheduled ``load()`` against a seeded org.

One run: a timed first load into an empty lake, in a fresh process as
every scheduled load of the reference is, then timed incremental ticks
until the run's time is up (at least ``TICKS_MIN``). Every load and tick is followed by a
timed verification scan: the package's ``check_tables`` plus an output
check of every table against the org.

The org has all 15 objects; each load syncs ``RUN_RESOURCES``, one
object per write path: merge on Id with the ``LastModifiedDate`` cursor,
replace, the idle incremental poll of a merge table, and the no-primary-
key merge that falls back to append.
"""

from __future__ import annotations

import tempfile
import time
import zlib
from pathlib import Path

from pyspark.sql import functions as F

from dlt_salesforce_iceberg_rest_demo_spark import check_tables as check_tables_mod
from dlt_salesforce_iceberg_rest_demo_spark import pipeline as pipeline_mod
from dlt_salesforce_iceberg_rest_demo_spark.config import RESOURCES
from dlt_salesforce_iceberg_rest_demo_spark.normalize import snake_case
from dlt_salesforce_iceberg_rest_demo_spark.sinks.dispositions import ParquetLake
from dlt_salesforce_iceberg_rest_demo_spark.state import StateStore

import host
from spans import maybe_span
from standin import Org, StandInTransport, iso_to_millis

N_ACCOUNTS = 400
RUN_RESOURCES = ("account", "contact", "opportunity_contact_role", "task")
TICKS_MIN = 2


def prepare(seed: int) -> dict:
    return {"org": Org(seed, N_ACCOUNTS)}


def install(tracer, transport_cls=StandInTransport) -> None:
    def write_attrs(self, df, table, disposition, primary_key=()):
        effective = "append" if disposition == "merge" and not primary_key else disposition
        return {"table": table, "disposition": effective}

    tracer.wrap(pipeline_mod.SalesforcePipeline, "run", "pipeline.run")
    tracer.wrap(pipeline_mod, "read_object", "sources.read_object",
                lambda spark, transport, sobject, **kw: {"sobject": sobject})
    tracer.wrap(transport_cls, "describe", "standin.describe",
                lambda self, sobject: {"sobject": sobject})
    tracer.wrap(transport_cls, "query_bulk", "standin.page",
                lambda self, sobject, soql: {"sobject": sobject}, generator=True)
    tracer.wrap(ParquetLake, "write", "sinks.write", write_attrs)
    tracer.wrap(ParquetLake, "read", "sinks.read", lambda self, table, *a, **kw: {"table": table})
    tracer.wrap(ParquetLake, "count", "sinks.count", lambda self, table: {"table": table})
    tracer.wrap(StateStore, "get", "state.get", lambda self, table, *a: {"table": table})
    tracer.wrap(StateStore, "advance", "state.advance", lambda self, table, *a: {"table": table})
    tracer.wrap(check_tables_mod, "check_tables", "check_tables")


def lake_bytes(root: Path) -> tuple[int, int]:
    """(bytes, parquet data files) under the lake root."""
    total, files = 0, 0
    for p in root.rglob("*"):
        if p.is_file():
            total += p.stat().st_size
            files += p.suffix == ".parquet"
    return total, files


def check_output(lake: ParquetLake, state: StateStore, org: Org) -> list[str]:
    """Compare every table with the org: row count and an order-insensitive
    hash over (Id, SystemModstamp), and for incremental tables the stored
    cursor against the max cursor actually written. Returns the problems."""
    parts = []
    for name, cfg in _configs():
        cursor = snake_case(cfg.replication_key or "SystemModstamp")
        key = F.concat_ws("|", F.col("id"), F.unix_millis("system_modstamp").cast("string"))
        parts.append(lake.read(name).select(
            F.lit(name).alias("t"),
            F.crc32(key.cast("binary")).alias("h"),
            F.unix_millis(cursor).alias("c"),
        ))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    got = {
        r["t"]: r for r in df.groupBy("t").agg(
            F.count(F.lit(1)).alias("n"), F.sum("h").alias("h"), F.max("c").alias("c")
        ).collect()
    }
    problems = []
    for name, cfg in _configs():
        rows = org.expected_rows(cfg.sobject, _append_only(cfg))
        want_n = len(rows)
        want_h = sum(zlib.crc32(f"{i}|{ms}".encode()) for i, ms in rows)
        row = got.get(name)
        if row is None or (row["n"], row["h"]) != (want_n, want_h):
            problems.append(f"{name}: rows/hash {row and (row['n'], row['h'])} != {(want_n, want_h)}")
            continue
        if cfg.replication_key:
            stored = state.get(name)
            want_c = org.max_cursor(cfg.sobject, cfg.replication_key)
            if stored is None or iso_to_millis(stored) != row["c"] or row["c"] != want_c:
                problems.append(f"{name}: cursor {stored} / written {row['c']} / org {want_c}")
    return problems


class Sync:
    """One org synced into a new lake; each load is an operation."""

    def __init__(self, spark, org: Org, tracer) -> None:
        self.org, self.tracer = org, tracer
        work = Path(tempfile.mkdtemp(prefix="elt-"))
        self.root = work / "lake"
        self.transport = StandInTransport(org)
        self.lake = ParquetLake(spark, self.root)
        self.state = StateStore(work / "state.json")
        self.pipeline = pipeline_mod.SalesforcePipeline(spark, self.transport, self.lake, self.state)
        self.loads = 0

    def load(self, kind: str) -> dict:
        """Run one load (the first one, or a tick after advancing the org)
        and its verification scan; return timings and counts."""
        if self.loads:
            self.org.tick()
        self.loads += 1
        t = self.tracer
        trace_id = f"{kind}.{self.loads}"
        if t:
            t.trace_id = trace_id
        bytes0, _ = lake_bytes(self.root)
        ticks0 = host.cpu_ticks()
        soql0, served0 = self.transport.soql_queries, self.transport.records_served
        with maybe_span(t, f"elt.{kind}"):
            start = time.perf_counter()
            info = self.pipeline.run(RUN_RESOURCES, load_id=trace_id)
            load_s = time.perf_counter() - start
        ticks1 = host.cpu_ticks()
        with maybe_span(t, "elt.verify"):
            start = time.perf_counter()
            check_tables_mod.check_tables(self.lake)
            problems = check_output(self.lake, self.state, self.org)
            verify_s = time.perf_counter() - start
        ticks2 = host.cpu_ticks()
        if t:
            t.harvest()
            t.trace_id = None
        bytes1, files = lake_bytes(self.root)
        return {
            "kind": kind,
            "trace": trace_id,
            "traced": bool(t and t.enabled),
            "load_s": load_s,
            "verify_s": verify_s,
            "load_ticks": host.delta(ticks0, ticks1),
            "verify_ticks": host.delta(ticks1, ticks2),
            "rows": info.total_rows,
            "records_fetched": self.transport.records_served - served0,
            "soql_queries": self.transport.soql_queries - soql0,
            "bytes_written": bytes1 - bytes0,
            "lake_bytes": bytes1,
            "data_files": files,
            "live_rows": sum(len(self.org.expected_rows(c.sobject, _append_only(c))) for _, c in _configs()),
            "problems": problems,
        }


def _configs():
    return [(name, RESOURCES[name]) for name in RUN_RESOURCES]


def _append_only(cfg) -> bool:
    """Merge without a primary key falls back to append."""
    return cfg.write_disposition == "merge" and not cfg.primary_key


def run(spark, prepared: dict, seconds: float, tracer, record) -> None:
    """Drive the workload; ``record(op)`` receives every operation."""
    if tracer:
        install(tracer)
    sync = Sync(spark, prepared["org"], tracer)
    start = time.perf_counter()
    record(sync.load("load"))
    ticks = 0
    # A traced run warms up with one untraced tick, then interleaves
    # untraced and traced ticks (U T T U) so the difference of their
    # medians is the wrappers' cost, not warm-up.
    least = 5 if tracer else TICKS_MIN
    while ticks < least or time.perf_counter() - start < seconds:
        warm = bool(tracer) and ticks == 0
        if tracer:
            tracer.enabled = not warm and (ticks - 1) % 4 in (1, 2)
        record({**sync.load("tick"), "warmup": warm})
        ticks += 1
    if tracer:
        tracer.enabled = True


def samples(ops: list[dict], clock) -> dict[str, list[float]]:
    """Timed samples per part of the run, each through ``clock(seconds,
    cpu_ticks)``: the first load, the ticks, the verification scans."""
    timed = [o for o in ops if not o.get("warmup")]
    return {
        "load": [clock(o["load_s"], o["load_ticks"]) for o in timed if o["kind"] == "load"],
        "tick": [clock(o["load_s"], o["load_ticks"]) for o in timed if o["kind"] == "tick"],
        "verify": [clock(o["verify_s"], o["verify_ticks"]) for o in timed],
    }
