"""The fixture loader resolves each Parquet file's schema once per file
version: repeated reads run no schema-inference job, a rewritten file or
a session with other inference settings is inferred again, and the one
place that infers is the cache miss in ``sources/parquet.py``."""

from __future__ import annotations

import ast
import os
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import dlt_salesforce_iceberg_rest_demo_spark as pkg
from dlt_salesforce_iceberg_rest_demo_spark.plans import query_fns
from dlt_salesforce_iceberg_rest_demo_spark.sources.parquet import (
    TABLES,
    _scan,
    load_table,
    load_table_incremental,
)

from .conftest import SF_DIR

NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def jobs_of(spark, fn):
    """(Spark jobs ``fn()`` ran, its result), counted in the status store."""
    sc = spark.sparkContext
    group = f"parquet-source-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "parquet source")
    try:
        result = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), result


def write(path: Path, **columns) -> None:
    pq.write_table(pa.table(columns), path)


class TestSchemaCache:
    def test_second_load_runs_no_job(self, spark, tmp_path):
        write(tmp_path / "t.parquet", id=pa.array([1, 2, 3], pa.int64()))
        cold, first = jobs_of(spark, lambda: load_table(spark, str(tmp_path), "t"))
        warm, second = jobs_of(spark, lambda: load_table(spark, str(tmp_path), "t"))
        assert (cold, warm) == (1, 0)
        assert second.schema == first.schema
        assert sorted(r.id for r in second.collect()) == [1, 2, 3]

    def test_warm_flagship_build_runs_no_job(self, spark):
        build = query_fns()["flagship_revenue_by_region"]
        build(spark, SF_DIR)
        n, df = jobs_of(spark, lambda: build(spark, SF_DIR))
        assert n == 0
        assert df.count() > 0

    def test_cached_schema_is_sparks_inference(self, spark):
        for name in TABLES:
            path = f"{SF_DIR}/{name}.parquet"
            inferred = spark.read.parquet(path).schema
            for _ in range(2):  # the miss, then the hit
                cached = _scan(spark, path)[0].schema
                assert cached == inferred, name
                assert cached.json() == inferred.json(), name

    def test_rewritten_file_shows_its_new_column(self, spark, tmp_path):
        write(tmp_path / "t.parquet", id=pa.array([1], pa.int64()))
        assert load_table(spark, str(tmp_path), "t").columns == ["id"]
        write(
            tmp_path / "t.parquet",
            id=pa.array([1], pa.int64()),
            extra=pa.array(["x"]),
        )
        df = load_table(spark, str(tmp_path), "t")
        assert df.columns == ["id", "extra"]
        assert [tuple(r) for r in df.collect()] == [(1, "x")]

    def test_inference_settings_are_part_of_the_key(self, spark, tmp_path):
        path = str(tmp_path / "t.parquet")
        write(tmp_path / "t.parquet", ts=pa.array([0], pa.timestamp("us")))
        before = spark.conf.get(NTZ)
        try:
            for value in ("true", "false", "true"):
                spark.conf.set(NTZ, value)
                inferred = spark.read.parquet(path).schema
                assert _scan(spark, path)[0].schema == inferred
            spark.conf.set(NTZ, "false")
            assert _scan(spark, path)[0].schema["ts"].dataType.typeName() == "timestamp"
            spark.conf.set(NTZ, "true")
            assert _scan(spark, path)[0].schema["ts"].dataType.typeName() == "timestamp_ntz"
        finally:
            spark.conf.set(NTZ, before)

    def test_rewrite_to_nanos_is_read_as_nanos(self, spark, tmp_path):
        """A file rewritten at the same path with a TIMESTAMP(NANOS) column
        is converted like any nanos file, not read with the columns of
        its earlier version."""
        ns = [1_700_000_000_123_456_789, 1_700_000_000_000_000_999]
        write(tmp_path / "events.parquet", id=pa.array([1, 2], pa.int64()),
              ts=pa.array([v // 1000 for v in ns], pa.timestamp("us")))
        load_table(spark, str(tmp_path), "events").collect()
        write(tmp_path / "events.parquet", id=pa.array([1, 2], pa.int64()),
              ts=pa.array(ns, pa.timestamp("ns")))
        df = load_table(spark, str(tmp_path), "events")
        assert df.schema["ts"].dataType.typeName() == "timestamp"
        got = df.select("id", F.unix_micros("ts").alias("us")).orderBy("id").collect()
        assert [r.us for r in got] == [v // 1000 for v in ns]

    def test_directory_is_inferred_on_every_read(self, spark, tmp_path):
        spark.range(3).write.parquet(str(tmp_path / "t.parquet"))
        n, df = jobs_of(spark, lambda: load_table(spark, str(tmp_path), "t"))
        assert n == 1 and df.count() == 3
        spark.range(3).withColumn("x", F.lit(1)).write.mode("overwrite").parquet(
            str(tmp_path / "t.parquet")
        )
        n, df = jobs_of(spark, lambda: load_table(spark, str(tmp_path), "t"))
        assert n == 1 and df.columns == ["id", "x"]

    def test_self_join_gets_two_relations(self, spark):
        a = load_table(spark, SF_DIR, "nation")
        b = load_table(spark, SF_DIR, "nation")
        joined = a.alias("a").join(b.alias("b"), F.col("a.n_nationkey") == F.col("b.n_nationkey"))
        assert joined.count() == a.count()


class TestLoaderTyping:
    def test_incremental_types_columns_like_load_table(self, spark, tmp_path):
        """Both loaders end with the same typing step: on a file whose
        cursor is TIMESTAMP(NANOS), a naive-microsecond column comes back
        as session-tz ``timestamp`` from either, and the cursor filter
        still runs on the raw column."""
        ns = [1_700_000_000_123_456_789, 1_700_000_100_000_000_999]
        seen = pa.array([1_600_000_000_000_000, 1_600_000_001_000_000], pa.timestamp("us"))
        write(tmp_path / "events.parquet", id=pa.array([1, 2], pa.int64()),
              ts=pa.array(ns, pa.timestamp("ns")), seen=seen)
        full = load_table(spark, str(tmp_path), "events")
        inc = load_table_incremental(
            spark, str(tmp_path), "events", "ts", "2023-11-14 22:14:00"
        )
        assert full.dtypes == [("id", "bigint"), ("ts", "timestamp"), ("seen", "timestamp")]
        assert inc.dtypes == full.dtypes
        assert [r.id for r in inc.collect()] == [2]
        pushed = inc._jdf.queryExecution().executedPlan().toString()
        assert "GreaterThan(ts," in pushed


class TestOneInferenceSite:
    """Every fixture read goes through the cache: a Parquet read without
    an explicit ``.schema(...)`` appears once in the package, on the
    cache-miss path of ``sources/parquet.py::_scan``."""

    PKG = Path(pkg.__file__).resolve().parent

    @staticmethod
    def _infers(call: ast.Call) -> bool:
        """``<x>.read[.<option>(...)...].parquet(...)`` with no ``.schema(...)``."""
        if getattr(call.func, "attr", None) != "parquet":
            return False
        node = call.func.value
        while True:
            if isinstance(node, ast.Call):
                if getattr(node.func, "attr", None) == "schema":
                    return False
                node = node.func.value if isinstance(node.func, ast.Attribute) else None
            elif isinstance(node, ast.Attribute):
                if node.attr == "read":
                    return True
                node = node.value
            else:
                return False

    def test_one_schema_inference_site(self):
        sites = []

        def visit(node, owner, path):
            if isinstance(node, ast.FunctionDef):
                owner = node.name
            if isinstance(node, ast.Call) and self._infers(node):
                sites.append((str(path.relative_to(self.PKG)), owner))
            for child in ast.iter_child_nodes(node):
                visit(child, owner, path)

        for path in sorted(self.PKG.rglob("*.py")):
            visit(ast.parse(path.read_text(), str(path)), None, path)
        assert sites == [(os.path.join("sources", "parquet.py"), "_scan")]
