"""Disposition-writer semantics (W1-W6) on the snapshot parquet lake -
the end-to-end disposition tests SURVEY §5 calls for."""

from __future__ import annotations

import datetime
import json
import logging
import re
import uuid
from pathlib import Path

import pyarrow as pa
import pytest
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

import dlt_salesforce_iceberg_rest_demo_spark as pkg
from dlt_salesforce_iceberg_rest_demo_spark.normalize import CANONICAL_TS_FORMAT, CURSOR_HINT
from dlt_salesforce_iceberg_rest_demo_spark.sinks import dispositions
from dlt_salesforce_iceberg_rest_demo_spark.sinks.dispositions import ParquetLake
from dlt_salesforce_iceberg_rest_demo_spark.sources.salesforce import read_object

from .fixtures_salesforce import make_transport


def make_lake(spark, tmp_path):
    return ParquetLake(spark, tmp_path / "lake")


def df_of(spark, rows):
    return spark.createDataFrame(rows)


def rows_by_id(lake, table):
    return {r["id"]: r.asDict() for r in lake.read(table).collect()}


class TestCreateAndAppend:
    def test_auto_create_widens_and_nullifies(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        df = spark.createDataFrame(
            [(1, 2.5, "x")],
            schema=T.StructType(
                [
                    T.StructField("id", T.IntegerType(), False),
                    T.StructField("v", T.FloatType(), False),
                    T.StructField("s", T.StringType(), False),
                ]
            ),
        )
        lake.append(df, "t")
        schema = lake.schema("t")
        # int -> long, float -> double (iceberg/schema.py:37-40), all
        # nullable (iceberg/schema.py:57-62)
        assert [f.dataType.simpleString() for f in schema.fields] == [
            "bigint",
            "double",
            "string",
        ]
        assert all(f.nullable for f in schema.fields)
        # parquet/snappy table properties (salesforce_pipeline.py:146-149)
        assert lake.table_properties("t")["write.parquet.compression-codec"] == "snappy"

    def test_append_accumulates(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.append(df_of(spark, [Row(id=1, v="a")]), "t")
        lake.append(df_of(spark, [Row(id=2, v="b")]), "t")
        assert lake.count("t") == 2

    def test_empty_append_does_not_commit(self, spark, tmp_path):
        """Idle incremental poll (0 rows) must not grow the snapshot
        chain: no new manifest, no new data dir, pointer unchanged.
        This is the no-PK-merge/append analog of the merge empty-batch
        guard - dlt never invokes the destination for an empty batch."""
        lake = make_lake(spark, tmp_path)
        lake.append(df_of(spark, [Row(id=1, v="a")]), "t")
        before = sorted(p.name for p in (tmp_path / "lake" / "t").iterdir())
        empty = df_of(spark, [Row(id=1, v="a")]).filter("id < 0")
        rep = lake.append(empty, "t")
        assert rep.rows_written == 0
        after = sorted(p.name for p in (tmp_path / "lake" / "t").iterdir())
        assert before == after
        assert lake.count("t") == 1

    def test_append_aligns_schema(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.append(df_of(spark, [Row(id=1, v="a")]), "t")
        # second batch: missing `v`, extra `junk` -> NULL-filled / dropped
        lake.append(df_of(spark, [Row(id=2, junk="zzz")]), "t")
        rows = rows_by_id(lake, "t")
        assert rows[2]["v"] is None
        assert "junk" not in lake.read("t").columns


class TestEmptyRead:
    """A snapshot with no data dirs reads as an Arrow ``LocalRelation``
    of the table schema: no pickled rows, so no Python worker task."""

    SCHEMA = T.StructType(
        [
            T.StructField(name, dtype)
            for name, dtype in [
                ("id", T.LongType()),
                ("x", T.DoubleType()),
                ("s", T.StringType()),
                ("ts", T.TimestampType()),
                ("d", T.DateType()),
                ("flag", T.BooleanType()),
                ("amount", T.DecimalType(18, 2)),
                ("tags", T.ArrayType(T.StringType())),
            ]
        ]
    )

    def test_unwritten_table_is_a_local_relation(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.create_table("t", self.SCHEMA)
        dtypes = [(f.name, f.dataType.simpleString()) for f in lake.schema("t").fields]
        for df in (lake.read("t"), lake.read("t", 0)):
            leaves = df._jdf.queryExecution().analyzed().collectLeaves()
            classes = [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]
            assert classes == ["LocalRelation"]
            assert df.dtypes == dtypes
            assert df.collect() == []


class TestReplace:
    def test_replace_supplants(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.append(df_of(spark, [Row(id=1, v="a"), Row(id=2, v="b")]), "t")
        lake.replace(df_of(spark, [Row(id=3, v="c")]), "t")
        assert set(rows_by_id(lake, "t")) == {3}

    def test_replace_is_single_snapshot(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.append(df_of(spark, [Row(id=1, v="a")]), "t")
        v_before = lake.current_version("t")
        lake.replace(df_of(spark, [Row(id=2, v="b")]), "t")
        # exactly one commit (reference needs delete+append = two)
        assert lake.current_version("t") == v_before + 1


class TestMerge:
    def test_upsert_updates_and_inserts(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.merge(df_of(spark, [Row(id=1, v="old"), Row(id=2, v="keep")]), "t", ("id",))
        lake.merge(df_of(spark, [Row(id=1, v="new"), Row(id=3, v="ins")]), "t", ("id",))
        rows = rows_by_id(lake, "t")
        assert rows[1]["v"] == "new"  # matched -> replaced
        assert rows[2]["v"] == "keep"  # untouched survives
        assert rows[3]["v"] == "ins"  # new key inserted
        assert len(rows) == 3

    def test_merge_idempotent_reload(self, spark, tmp_path):
        # I4: reloading the same batch changes nothing
        lake = make_lake(spark, tmp_path)
        batch = df_of(spark, [Row(id=1, v="a"), Row(id=2, v="b")])
        lake.merge(batch, "t", ("id",))
        lake.merge(batch, "t", ("id",))
        assert lake.count("t") == 2

    def test_batch_local_duplicates_survive(self, spark, tmp_path):
        """Reference quirk (SURVEY §7): delete-then-insert keeps duplicate
        PKs *within* one batch."""
        lake = make_lake(spark, tmp_path)
        lake.merge(df_of(spark, [Row(id=1, v="a")]), "t", ("id",))
        dup_batch = df_of(spark, [Row(id=1, v="x"), Row(id=1, v="y")])
        lake.merge(dup_batch, "t", ("id",))
        assert lake.count("t") == 2  # both duplicate rows present

    def test_merge_without_pk_appends_with_flag(self, spark, tmp_path):
        # W4 guard (salesforce_pipeline.py:131-138)
        lake = make_lake(spark, tmp_path)
        lake.merge(df_of(spark, [Row(id=1, v="a")]), "t", ())
        rep = lake.merge(df_of(spark, [Row(id=1, v="b")]), "t", ())
        assert rep.fallback_append
        assert lake.count("t") == 2

    def test_merge_with_missing_pk_column_appends(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.merge(df_of(spark, [Row(id=1, v="a")]), "t", ("id",))
        rep = lake.merge(df_of(spark, [Row(other=9, v="b")]), "t", ("nope",))
        assert rep.fallback_append


class TestCatalog:
    def test_list_tables_and_location(self, spark, tmp_path):
        # S5 parity (check_tables.py:29-42)
        lake = make_lake(spark, tmp_path)
        lake.append(df_of(spark, [Row(id=1)]), "b_table")
        lake.append(df_of(spark, [Row(id=1)]), "a_table")
        assert lake.list_tables() == ["a_table", "b_table"]
        assert lake.table_location("a_table").endswith("a_table")

    def test_drop_table(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.append(df_of(spark, [Row(id=1)]), "t")
        lake.drop_table("t")
        assert not lake.exists("t")


class TestMaintenance:
    def test_compact_preserves_rows_and_collapses_manifest(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        for i in range(3):
            lake.append(df_of(spark, [Row(id=i, v=f"v{i}")]), "t")
        before = rows_by_id(lake, "t")
        assert len(lake._current_manifest("t")) == 3
        rep = lake.compact("t")
        assert rep.disposition == "compact" and rep.rows_written == 3
        assert len(lake._current_manifest("t")) == 1
        assert rows_by_id(lake, "t") == before

    def test_vacuum_deletes_unreferenced_dirs_keeps_current(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        for i in range(3):
            lake.append(df_of(spark, [Row(id=i, v=f"v{i}")]), "t")
        lake.compact("t")
        before = rows_by_id(lake, "t")
        tdir = lake.root / "t"
        n_dirs_before = len(list(tdir.glob("data_*")))
        deleted = lake.vacuum("t", keep_last=1)
        assert deleted  # the three pre-compaction dirs
        assert len(list(tdir.glob("data_*"))) == n_dirs_before - len(deleted)
        # current snapshot untouched and readable
        assert rows_by_id(lake, "t") == before
        # old manifests pruned, current one kept
        versions = sorted(
            int(m.name.split(".")[1]) for m in tdir.glob("_MANIFEST.*.json")
        )
        assert versions == [lake.current_version("t")]

    def test_vacuum_keep_last_two_preserves_previous_snapshot(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.append(df_of(spark, [Row(id=1, v="a")]), "t")
        lake.append(df_of(spark, [Row(id=2, v="b")]), "t")
        lake.replace(df_of(spark, [Row(id=9, v="z")]), "t")
        deleted = lake.vacuum("t", keep_last=2)
        # v2 (the two appended dirs) is still referenced by manifest 2
        assert deleted == []
        assert rows_by_id(lake, "t") == {9: {"id": 9, "v": "z"}}


class TestTimeTravelAndDiff:
    def test_read_old_version_and_diff_inserts(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.append(df_of(spark, [Row(id=1, v="a")]), "t")
        v1 = lake.current_version("t")
        lake.append(df_of(spark, [Row(id=2, v="b")]), "t")
        assert rows_by_id(lake, "t").keys() == {1, 2}
        # time travel: v1 still sees only row 1
        old = {r["id"] for r in lake.read("t", version=v1).collect()}
        assert old == {1}
        changes = lake.diff("t", v1).collect()
        assert [(r.id, r.change_type) for r in changes] == [(2, "insert")]

    def test_merge_update_diffs_as_delete_insert_pair(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.merge(df_of(spark, [Row(id=1, v="old"), Row(id=2, v="keep")]),
                   "t", ("id",))
        v1 = lake.current_version("t")
        lake.merge(df_of(spark, [Row(id=1, v="new")]), "t", ("id",))
        changes = {(r.id, r.v, r.change_type) for r in lake.diff("t", v1).collect()}
        assert changes == {(1, "new", "insert"), (1, "old", "delete")}

    def test_vacuumed_version_raises(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.append(df_of(spark, [Row(id=1, v="a")]), "t")
        v1 = lake.current_version("t")
        lake.replace(df_of(spark, [Row(id=9, v="z")]), "t")
        lake.vacuum("t", keep_last=1)
        import pytest as _pytest

        with _pytest.raises(ValueError, match="expired|does not exist"):
            lake.read("t", version=v1)


class TestIncrementalRollup:
    def test_state_maintained_across_appends_equals_recompute(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from dlt_salesforce_iceberg_rest_demo_spark.operators import (
            incremental_agg as ia,
        )

        lake = make_lake(spark, tmp_path)
        b1 = df_of(spark, [Row(k="a", v=1.5), Row(k="a", v=2.25), Row(k="b", v=3.0)])
        b2 = df_of(spark, [Row(k="a", v=-0.75), Row(k="c", v=10.0)])

        # maintain rollup state in the lake across two batch arrivals
        lake.append(b1, "facts")
        state = ia.partial_rollup(b1, ["k"], ["v"])
        lake.replace(state, "rollup")
        lake.append(b2, "facts")
        state = ia.merge_rollup(
            lake.read("rollup"), ia.partial_rollup(b2, ["k"], ["v"]), ["k"]
        )
        lake.replace(state, "rollup")

        got = {
            r.k: (r.n_rows, float(r.sum_v))
            for r in lake.read("rollup").collect()
        }
        full = {
            r.k: (r.n_rows, float(r.sum_v))
            for r in ia.partial_rollup(lake.read("facts"), ["k"], ["v"]).collect()
        }
        assert got == full == {
            "a": (3, 3.0), "b": (1, 3.0), "c": (1, 10.0)
        }


class TestRefsAndEvolution:
    def test_tag_pins_snapshot_and_survives_commits(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.append(df_of(spark, [Row(id=1, v="a")]), "t")
        v1 = lake.set_ref("t", "eval-2024")
        lake.replace(df_of(spark, [Row(id=9, v="z")]), "t")
        # tag read reproduces the pinned snapshot after later commits
        assert {r["id"] for r in lake.read("t", "eval-2024").collect()} == {1}
        assert {r["id"] for r in lake.read("t").collect()} == {9}
        assert lake.refs("t") == {"eval-2024": v1}

    def test_unknown_ref_raises(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.append(df_of(spark, [Row(id=1)]), "t")
        try:
            lake.read("t", "nope")
            raise AssertionError("expected ValueError")
        except ValueError:
            pass

    def test_vacuum_keeps_tagged_snapshots(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.append(df_of(spark, [Row(id=1)]), "t")
        lake.set_ref("t", "keepme")
        lake.replace(df_of(spark, [Row(id=2)]), "t")
        lake.replace(df_of(spark, [Row(id=3)]), "t")
        lake.vacuum("t", keep_last=1)
        # the tagged snapshot's data survives; the untagged middle one dies
        assert {r["id"] for r in lake.read("t", "keepme").collect()} == {1}
        assert {r["id"] for r in lake.read("t").collect()} == {3}
        try:
            lake.read("t", 2)
            raise AssertionError("middle snapshot should be expired")
        except ValueError:
            pass

    def test_drop_ref_releases_retention(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.append(df_of(spark, [Row(id=1)]), "t")
        lake.set_ref("t", "tmp")
        lake.drop_ref("t", "tmp")
        assert lake.refs("t") == {}

    def test_default_append_drops_new_columns_reference_parity(
        self, spark, tmp_path
    ):
        lake = make_lake(spark, tmp_path)
        lake.append(df_of(spark, [Row(id=1, v="a")]), "t")
        lake.append(df_of(spark, [Row(id=2, v="b", extra=7)]), "t")
        assert "extra" not in [f.name for f in lake.schema("t").fields]

    def test_evolve_append_adds_column_and_backfills_null(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.append(df_of(spark, [Row(id=1, v="a")]), "t")
        batch = df_of(spark, [Row(id=2, v="b", extra=7)])
        lake.evolve_schema("t", batch.schema)
        lake.append(batch, "t")
        got = rows_by_id(lake, "t")
        # pre-evolution file reads the new column as typed NULL
        assert got[1]["extra"] is None
        assert got[2]["extra"] == 7
        f = {x.name: x for x in lake.schema("t").fields}["extra"]
        assert f.dataType.simpleString() == "bigint" and f.nullable

    def test_evolve_never_retypes_existing_columns(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.append(df_of(spark, [Row(id=1, v="a")]), "t")
        before = lake.schema("t")
        added = lake.evolve_schema(
            "t",
            T.StructType(
                [
                    T.StructField("id", T.StringType(), True),  # conflicting type
                    T.StructField("w", T.IntegerType(), True),
                ]
            ),
        )
        assert added == ["w"]
        after = {f.name: f.dataType.simpleString() for f in lake.schema("t").fields}
        assert after["id"] == dict(
            (f.name, f.dataType.simpleString()) for f in before.fields
        )["id"]
        assert after["w"] == "bigint"


class TestCompactSmall:
    def test_merges_only_small_dirs(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        # one "big" dir (many rows) + three small ones
        lake.append(df_of(spark, [Row(id=i, v="x" * 200) for i in range(500)]), "t")
        for i in range(3):
            lake.append(df_of(spark, [Row(id=1000 + i, v="y")]), "t")
        before = lake.count("t")
        big_dir = lake._current_manifest("t")[0]
        big_bytes = sum(
            f.stat().st_size
            for f in (lake.root / "t" / big_dir).rglob("*")
            if f.is_file()
        )
        rep = lake.compact_small("t", max_bytes=big_bytes)
        assert rep.rows_written == 3
        manifest = lake._current_manifest("t")
        # big dir untouched, three smalls merged into one new dir
        assert big_dir in manifest and len(manifest) == 2
        assert lake.count("t") == before
        # pre-compaction snapshot still readable (time travel intact)
        assert lake.read("t", lake.current_version("t") - 1).count() == before

    def test_noop_when_nothing_small(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.append(df_of(spark, [Row(id=1, v="a")]), "t")
        v = lake.current_version("t")
        rep = lake.compact_small("t", max_bytes=1)  # nothing under 1 byte
        assert rep.rows_written == 0
        assert lake.current_version("t") == v  # no spurious commit


class TestTimestampTimeTravel:
    def test_as_of_resolves_between_commits(self, spark, tmp_path):
        import datetime as dt
        import time

        lake = make_lake(spark, tmp_path)
        lake.append(df_of(spark, [Row(id=1)]), "t")
        time.sleep(0.05)
        mid = dt.datetime.now()
        time.sleep(0.05)
        lake.replace(df_of(spark, [Row(id=2)]), "t")

        v = lake.version_as_of("t", mid)
        assert {r["id"] for r in lake.read("t", v).collect()} == {1}
        # after the last commit -> current snapshot
        v2 = lake.version_as_of("t", dt.datetime.now())
        assert {r["id"] for r in lake.read("t", v2).collect()} == {2}

    def test_as_of_before_first_commit_raises(self, spark, tmp_path):
        import datetime as dt

        lake = make_lake(spark, tmp_path)
        lake.append(df_of(spark, [Row(id=1)]), "t")
        try:
            lake.version_as_of("t", dt.datetime(2000, 1, 1))
            raise AssertionError("expected ValueError")
        except ValueError:
            pass


class TestMergeCdc:
    """CDC disposition: I/U/D changelog applied in one atomic commit."""

    def _log(self, spark, rows):
        return df_of(
            spark,
            [Row(id=i, version=ver, op=op, v=v) for (i, ver, op, v) in rows],
        )

    def test_insert_update_delete_in_one_commit(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.replace(df_of(spark, [Row(id=1, v="a"), Row(id=2, v="b"), Row(id=3, v="c")]), "t")
        v0 = lake.current_version("t")
        rep = lake.merge_cdc(
            self._log(spark, [(2, 1, "U", "b2"), (3, 1, "D", None), (4, 1, "I", "d")]),
            "t", "id",
        )
        rows = rows_by_id(lake, "t")
        assert rows[1]["v"] == "a"      # untouched survives
        assert rows[2]["v"] == "b2"     # updated
        assert 3 not in rows            # deleted
        assert rows[4]["v"] == "d"      # inserted
        assert rep.rows_written == 2    # surviving upserts (U + I)
        assert lake.current_version("t") == v0 + 1  # ONE commit

    def test_last_writer_wins_within_changelog(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.replace(df_of(spark, [Row(id=1, v="a")]), "t")
        # U then D (higher version) -> row removed; D then I -> row back
        lake.merge_cdc(
            self._log(spark, [(1, 1, "U", "a2"), (1, 2, "D", None),
                              (2, 1, "D", None), (2, 2, "I", "fresh")]),
            "t", "id",
        )
        rows = rows_by_id(lake, "t")
        assert 1 not in rows
        assert rows[2]["v"] == "fresh"

    def test_reapply_is_idempotent(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.replace(df_of(spark, [Row(id=1, v="a"), Row(id=2, v="b")]), "t")
        log = self._log(spark, [(1, 1, "U", "a2"), (2, 1, "D", None)])
        lake.merge_cdc(log, "t", "id")
        first = rows_by_id(lake, "t")
        lake.merge_cdc(log, "t", "id")
        assert rows_by_id(lake, "t") == first

    def test_empty_changelog_is_noop(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.replace(df_of(spark, [Row(id=1, v="a")]), "t")
        v0 = lake.current_version("t")
        empty = df_of(spark, [Row(id=1, version=1, op="U", v="x")]).limit(0)
        rep = lake.merge_cdc(empty, "t", "id")
        assert rep.rows_written == 0
        assert lake.current_version("t") == v0  # no commit

    def test_auto_create_from_changelog(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.merge_cdc(
            self._log(spark, [(1, 1, "I", "a"), (2, 1, "D", None)]), "t", "id"
        )
        rows = rows_by_id(lake, "t")
        assert rows == {1: {"id": 1, "v": "a"}} or (1 in rows and 2 not in rows)

    def test_unguarded_last_call_wins_across_batches(self, spark, tmp_path):
        """Pin the DEFAULT delivery contract: across calls, versions do
        not protect — a later call with a lower version overwrites
        (correct under per-key-ordered delivery, the streaming norm)."""
        lake = make_lake(spark, tmp_path)
        lake.merge_cdc(self._log(spark, [(1, 5, "U", "new")]), "t", "id")
        lake.merge_cdc(self._log(spark, [(1, 3, "U", "stale")]), "t", "id")
        assert rows_by_id(lake, "t")[1]["v"] == "stale"

    def test_guard_stale_ignores_late_lower_version_update(self, spark, tmp_path):
        """guard_stale=True: the table keeps last_version and a
        late-arriving lower-version update leaves the newer row alone —
        and commits NOTHING when the whole batch is stale."""
        lake = make_lake(spark, tmp_path)
        lake.merge_cdc(
            self._log(spark, [(1, 5, "U", "new")]), "t", "id", guard_stale=True
        )
        v0 = lake.current_version("t")
        rep = lake.merge_cdc(
            self._log(spark, [(1, 3, "U", "stale")]), "t", "id", guard_stale=True
        )
        row = rows_by_id(lake, "t")[1]
        assert row["v"] == "new" and row["last_version"] == 5
        assert rep.rows_written == 0
        assert lake.current_version("t") == v0  # stale-only: no commit

    @pytest.mark.exhaustive
    def test_guard_stale_ignores_late_lower_version_delete(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.merge_cdc(
            self._log(spark, [(1, 5, "U", "new")]), "t", "id", guard_stale=True
        )
        lake.merge_cdc(
            self._log(spark, [(1, 3, "D", "x")]), "t", "id", guard_stale=True
        )
        assert rows_by_id(lake, "t")[1]["v"] == "new"  # stale delete ignored
        lake.merge_cdc(
            self._log(spark, [(1, 7, "D", "x")]), "t", "id", guard_stale=True
        )
        assert 1 not in rows_by_id(lake, "t")  # fresh delete applies

    @pytest.mark.exhaustive
    def test_guard_tombstone_blocks_resurrection(self, spark, tmp_path):
        """The round-7 boundary, closed: a winning delete persists a
        tombstone (hidden from read), so an update outrun by the
        delete that superseded it is recognized as stale and
        discarded — while a genuinely NEWER re-insert still lands."""
        lake = make_lake(spark, tmp_path)
        lake.merge_cdc(
            self._log(spark, [(1, 5, "D", "x")]), "t", "id", guard_stale=True
        )
        assert rows_by_id(lake, "t") == {}  # tombstone invisible to read
        v0 = lake.current_version("t")
        rep = lake.merge_cdc(
            self._log(spark, [(1, 3, "U", "zombie")]), "t", "id",
            guard_stale=True,
        )
        assert rows_by_id(lake, "t") == {}  # no resurrection
        assert rep.rows_written == 0
        assert lake.current_version("t") == v0  # stale-only: no commit
        lake.merge_cdc(
            self._log(spark, [(1, 7, "I", "back")]), "t", "id",
            guard_stale=True,
        )
        assert rows_by_id(lake, "t")[1]["v"] == "back"  # newer re-insert

    @pytest.mark.exhaustive
    def test_guard_tombstone_for_absent_key(self, spark, tmp_path):
        """A delete for a key the table never saw still tombstones —
        its insert may be outrun and arrive later — and that commit is
        real guard state, not a no-change rewrite."""
        lake = make_lake(spark, tmp_path)
        lake.replace(df_of(spark, [Row(id=9, v="live")]), "t")
        lake.merge_cdc(
            self._log(spark, [(1, 5, "D", "x")]), "t", "id", guard_stale=True
        )
        lake.merge_cdc(
            self._log(spark, [(1, 4, "I", "late-insert")]), "t", "id",
            guard_stale=True,
        )
        rows = rows_by_id(lake, "t")
        assert 1 not in rows and rows[9]["v"] == "live"

    @pytest.mark.exhaustive
    def test_tombstones_survive_compaction_and_plain_merge(
        self, spark, tmp_path
    ):
        """Copy-on-write rewrites (compact, plain merge on other keys)
        must carry tombstones, or guard state silently evaporates."""
        lake = make_lake(spark, tmp_path)
        lake.merge_cdc(
            self._log(spark, [(1, 5, "D", None), (2, 1, "I", "b")]),
            "t", "id", guard_stale=True,
        )
        lake.compact("t")
        lake.merge(df_of(spark, [Row(id=3, v="c")]), "t", primary_key=["id"])
        lake.merge_cdc(
            self._log(spark, [(1, 3, "U", "zombie")]), "t", "id",
            guard_stale=True,
        )
        rows = rows_by_id(lake, "t")
        assert 1 not in rows  # tombstone outlived compact + merge
        assert rows[2]["v"] == "b" and rows[3]["v"] == "c"

    @pytest.mark.exhaustive
    def test_compact_tombstones_retention(self, spark, tmp_path):
        """compact_tombstones drops tombstones below the version
        horizon (and ONLY those); dropping one re-opens the
        resurrection window — the documented retention trade."""
        lake = make_lake(spark, tmp_path)
        lake.merge_cdc(
            self._log(spark, [(1, 5, "D", "x"), (2, 20, "D", "x")]),
            "t", "id", guard_stale=True,
        )
        rep = lake.compact_tombstones("t", before_version=10)
        assert rep.rows_written == 1  # only the v5 tombstone dropped
        rep2 = lake.compact_tombstones("t", before_version=10)
        assert rep2.rows_written == 0  # idempotent no-op, no commit
        # v5 tombstone gone: the old zombie CAN return (the trade)...
        lake.merge_cdc(
            self._log(spark, [(1, 3, "U", "zombie")]), "t", "id",
            guard_stale=True,
        )
        assert rows_by_id(lake, "t")[1]["v"] == "zombie"
        # ...but the retained v20 tombstone still guards key 2
        lake.merge_cdc(
            self._log(spark, [(2, 15, "U", "stale")]), "t", "id",
            guard_stale=True,
        )
        assert 2 not in rows_by_id(lake, "t")

    def test_guard_rejects_reserved_columns(self, spark, tmp_path):
        """Changelog columns colliding with generated/persisted names
        (last_version, _cdc_deleted, __op, __base_v) raise up front."""
        import pytest as _pytest

        lake = make_lake(spark, tmp_path)
        bad = df_of(spark, [Row(id=1, version=1, op="I", last_version=7)])
        with _pytest.raises(ValueError, match="reserved"):
            lake.merge_cdc(bad, "t", "id", guard_stale=True)
        with _pytest.raises(ValueError, match="reserved"):
            lake.merge_cdc(bad, "t", "id")  # unguarded path too

    def test_guard_rejects_uncastable_version(self, spark, tmp_path):
        """ISO-8601 (or any non-long-castable) version strings would
        silently NULL last_version — 'any version beats me' — so
        guarded mode fails loudly; numeric strings still pass."""
        import pytest as _pytest

        lake = make_lake(spark, tmp_path)
        iso = df_of(
            spark, [Row(id=1, version="2024-01-01T00:00:00Z", op="I", v="a")]
        )
        with _pytest.raises(ValueError, match="cast"):
            lake.merge_cdc(iso, "t", "id", guard_stale=True)
        ok = df_of(spark, [Row(id=1, version="7", op="I", v="a")])
        lake.merge_cdc(ok, "t", "id", guard_stale=True)
        assert rows_by_id(lake, "t")[1]["last_version"] == 7

    def test_guard_numeric_string_versions_compare_numerically(
        self, spark, tmp_path
    ):
        """ADVICE r8: a raw-typed argmax orders numeric strings
        lexicographically ("9" > "10"), storing the OLDER payload with
        last_version=9 — the stale guard then silently keeps wrong
        data. The cast-before-argmax makes the in-batch winner and the
        persisted guard value the same number."""
        lake = make_lake(spark, tmp_path)
        batch = df_of(
            spark,
            [
                Row(id=1, version="9", op="U", v="old"),
                Row(id=1, version="10", op="U", v="new"),
            ],
        )
        lake.merge_cdc(batch, "t", "id", guard_stale=True)
        row = rows_by_id(lake, "t")[1]
        assert row["v"] == "new" and row["last_version"] == 10
        # the persisted guard then correctly rejects a late "9"
        lake.merge_cdc(
            df_of(spark, [Row(id=1, version="9", op="U", v="stale")]),
            "t", "id", guard_stale=True,
        )
        assert rows_by_id(lake, "t")[1]["v"] == "new"

    def test_guard_rejects_fractional_version(self, spark, tmp_path):
        """Fractional versions truncate on cast (decimal 9.5 and 9.4
        both become long 9 — false ties the strict-> guard drops as
        stale), so guarded mode rejects them loudly; whole-valued
        decimals and strings still pass."""
        from decimal import Decimal

        import pytest as _pytest

        lake = make_lake(spark, tmp_path)
        frac = df_of(
            spark, [Row(id=1, version=Decimal("9.5"), op="I", v="a")]
        )
        with _pytest.raises(ValueError, match="fractional"):
            lake.merge_cdc(frac, "t", "id", guard_stale=True)
        with _pytest.raises(ValueError, match="fractional"):
            lake.merge_cdc(
                df_of(spark, [Row(id=1, version="9.5", op="I", v="a")]),
                "t", "id", guard_stale=True,
            )
        whole = df_of(
            spark, [Row(id=1, version=Decimal("9.0"), op="I", v="a")]
        )
        lake.merge_cdc(whole, "t", "id", guard_stale=True)
        assert rows_by_id(lake, "t")[1]["last_version"] == 9

    def test_guard_rejects_nan_inf_double_versions(self, spark, tmp_path):
        """ADVICE r9: NaN/Inf double versions escape a decimal
        round-trip check alone — non-ANSI cast(NaN as long)=0 and
        cast(Inf as long)=Long.MAX are non-NULL while the decimal
        cast NULLs, so the inequality is NULL and the row slips
        through, storing a guard of 0 (loses everything) or Long.MAX
        (blocks all future updates). The explicit isnan/round-trip
        clause must flag them."""
        import pytest as _pytest

        lake = make_lake(spark, tmp_path)
        for v in (float("nan"), float("inf"), float("-inf"), 9.5):
            bad = spark.createDataFrame(
                [Row(id=1, version=v, op="I", v="a")],
                "id long, version double, op string, v string",
            )
            with _pytest.raises(ValueError, match="NaN/Inf|fractional"):
                lake.merge_cdc(bad, "t", "id", guard_stale=True)
        ok = spark.createDataFrame(
            [Row(id=1, version=9.0, op="I", v="a")],
            "id long, version double, op string, v string",
        )
        lake.merge_cdc(ok, "t", "id", guard_stale=True)
        assert rows_by_id(lake, "t")[1]["last_version"] == 9

    def test_guard_timestamp_versions_out_of_order(self, spark, tmp_path):
        """VERDICT r9 task 4: TIMESTAMP version columns are supported
        — canonicalized to epoch MICROSECONDS, so sub-second
        ordering is preserved through the persisted guard. Delivered
        newest-first: the later batch (older timestamp, same second)
        must be rejected as stale."""
        import datetime as dt

        lake = make_lake(spark, tmp_path)
        t_new = dt.datetime(2024, 6, 1, 12, 0, 0, 750_000)
        t_old = dt.datetime(2024, 6, 1, 12, 0, 0, 250_000)
        mk = lambda ts, val: spark.createDataFrame(
            [Row(id=1, version=ts, op="U", v=val)],
            "id long, version timestamp, op string, v string",
        )
        lake.merge_cdc(mk(t_new, "new"), "t", "id", guard_stale=True)
        lake.merge_cdc(mk(t_old, "stale"), "t", "id", guard_stale=True)
        row = rows_by_id(lake, "t")[1]
        want = int(
            t_new.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6
        )
        assert row["v"] == "new" and row["last_version"] == want

    def test_unguarded_unrepresentable_version_raises(self, spark, tmp_path):
        """ADVICE r9 medium: the UNGUARDED merge_cdc path never ran
        _check_version_castable, so ISO-8601 versions silently cast
        to NULL and the argmax resolved by op/payload order — wrong
        winners, no error. apply_changelog's inline raise now fails
        the job loudly."""
        import pytest as _pytest

        lake = make_lake(spark, tmp_path)
        iso = df_of(
            spark,
            [Row(id=1, version="2024-01-01T00:00:00Z", op="I", v="a")],
        )
        with _pytest.raises(Exception, match="losslessly convertible"):
            lake.merge_cdc(iso, "t", "id")  # no guard_stale

    def test_unguarded_onto_guarded_keeps_guard_state(self, spark, tmp_path):
        """ADVICE r7: an unguarded merge_cdc onto a guarded table must
        not NULL out last_version for the keys it touches — it writes
        the batch's own versions (last-call-wins applies, and touched
        tombstones are replaced: the documented mode-mixing downgrade)."""
        lake = make_lake(spark, tmp_path)
        lake.merge_cdc(
            self._log(spark, [(1, 5, "U", "a"), (2, 9, "D", None)]),
            "t", "id", guard_stale=True,
        )
        lake.merge_cdc(
            self._log(spark, [(1, 3, "U", "unguarded"), (2, 2, "I", "re")]),
            "t", "id",
        )
        rows = rows_by_id(lake, "t")
        assert rows[1]["v"] == "unguarded"  # last call wins, no guard
        assert rows[1]["last_version"] == 3  # state written, not NULLed
        assert rows[2]["v"] == "re"  # unguarded write replaced tombstone

    @pytest.mark.exhaustive
    def test_guard_evolves_unguarded_table(self, spark, tmp_path):
        """A guarded merge onto a pre-guard table adds last_version by
        additive evolution; pre-guard rows (NULL version) lose to any
        incoming version."""
        lake = make_lake(spark, tmp_path)
        lake.merge_cdc(self._log(spark, [(1, 9, "U", "old"), (2, 9, "U", "keep")]), "t", "id")
        assert "last_version" not in lake.read("t").columns
        lake.merge_cdc(
            self._log(spark, [(1, 1, "U", "upd")]), "t", "id", guard_stale=True
        )
        rows = rows_by_id(lake, "t")
        assert rows[1]["v"] == "upd" and rows[1]["last_version"] == 1
        assert rows[2]["v"] == "keep" and rows[2]["last_version"] is None


class TestBranchesWap:
    """Iceberg-style branches: write-audit-publish, isolation,
    fast-forward ancestry, vacuum retention."""

    def test_write_audit_publish_roundtrip(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.replace(df_of(spark, [Row(id=1, v="a")]), "t")
        main_v = lake.current_version("t")
        lake.create_branch("t", "audit")
        lake.write_to_branch(
            df_of(spark, [Row(id=2, v="b")]), "t", "append", branch="audit"
        )
        # isolation: main unchanged, branch sees the staged batch
        assert lake.current_version("t") == main_v
        assert lake.count("t") == 1
        assert {r.id for r in lake.read("t", "audit").collect()} == {1, 2}
        # publish
        head = lake.fast_forward("t", "audit")
        assert lake.current_version("t") == head
        assert {r.id for r in lake.read("t").collect()} == {1, 2}

    def test_failed_audit_drop_branch_leaves_main_clean(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.replace(df_of(spark, [Row(id=1, v="a")]), "t")
        lake.create_branch("t", "audit")
        lake.write_to_branch(
            df_of(spark, [Row(id=2, v="bad")]), "t", "append", branch="audit"
        )
        lake.drop_branch("t", "audit")
        assert {r.id for r in lake.read("t").collect()} == {1}
        assert "audit" not in lake.branches("t")

    def test_fast_forward_refuses_diverged_main(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.replace(df_of(spark, [Row(id=1, v="a")]), "t")
        lake.create_branch("t", "audit")
        lake.write_to_branch(
            df_of(spark, [Row(id=2, v="b")]), "t", "append", branch="audit"
        )
        # main diverges after the fork
        lake.append(df_of(spark, [Row(id=9, v="z")]), "t")
        import pytest as _pytest

        with _pytest.raises(ValueError, match="not an ancestor"):
            lake.fast_forward("t", "audit")

    def test_multiple_branch_commits_then_publish(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.replace(df_of(spark, [Row(id=1, v="a")]), "t")
        lake.create_branch("t", "stage")
        lake.write_to_branch(
            df_of(spark, [Row(id=2, v="b")]), "t", "append", branch="stage"
        )
        lake.write_to_branch(
            df_of(spark, [Row(id=3, v="c")]), "t", "append", branch="stage"
        )
        lake.fast_forward("t", "stage")
        assert lake.count("t") == 3

    def test_as_of_ignores_dropped_branch_staging(self, spark, tmp_path):
        """TIMESTAMP AS OF resolves along MAIN's lineage only: a staged
        WAP batch whose audit failed (branch dropped) must never be
        returned as if it were published history."""
        import datetime as dt
        import time

        lake = make_lake(spark, tmp_path)
        lake.replace(df_of(spark, [Row(id=1, v="good")]), "t")
        main_v = lake.current_version("t")
        lake.write_to_branch(
            df_of(spark, [Row(id=2, v="rejected")]), "t", "append", branch="audit"
        )
        lake.drop_branch("t", "audit")
        time.sleep(0.01)
        v = lake.version_as_of("t", dt.datetime.now())
        assert v == main_v
        assert {r.v for r in lake.read("t", v).collect()} == {"good"}

    def test_as_of_skips_live_branch_commits(self, spark, tmp_path):
        """Even while a branch is live, as-of never resolves to its
        (newer, globally-numbered) staging snapshots."""
        import datetime as dt
        import time

        lake = make_lake(spark, tmp_path)
        lake.replace(df_of(spark, [Row(id=1)]), "t")
        main_v = lake.current_version("t")
        lake.create_branch("t", "stage")
        lake.write_to_branch(
            df_of(spark, [Row(id=2)]), "t", "append", branch="stage"
        )
        time.sleep(0.01)
        assert lake.version_as_of("t", dt.datetime.now()) == main_v

    def test_vacuum_walks_main_lineage_not_numeric_range(self, spark, tmp_path):
        """vacuum(keep_last=N) must keep the last N MAIN snapshots even
        when orphaned branch manifests occupy interior version numbers,
        and must reclaim the orphaned (audit-rejected) staging data."""
        lake = make_lake(spark, tmp_path)
        lake.replace(df_of(spark, [Row(id=1, v="m1")]), "t")
        v1 = lake.current_version("t")
        lake.write_to_branch(
            df_of(spark, [Row(id=2, v="rejected")]), "t", "append", branch="audit"
        )
        v2 = lake.branches("t")["audit"]
        lake.drop_branch("t", "audit")
        lake.append(df_of(spark, [Row(id=3, v="m2")]), "t")
        v3 = lake.current_version("t")
        assert v1 < v2 < v3  # branch manifest sits inside the numeric window
        lake.vacuum("t", keep_last=2)
        # both real main snapshots still resolve...
        assert {r.v for r in lake.read("t", v1).collect()} == {"m1"}
        assert {r.v for r in lake.read("t", v3).collect()} == {"m1", "m2"}
        # ...and the rejected staging snapshot is expired, not retained
        import pytest as _pytest

        with _pytest.raises(ValueError, match="does not exist"):
            lake.read("t", v2)

    def test_fast_forward_expired_lineage_raises_value_error(self, spark, tmp_path):
        """If vacuum expired interior branch lineage, fast_forward must
        refuse with the documented ValueError, not FileNotFoundError."""
        lake = make_lake(spark, tmp_path)
        lake.replace(df_of(spark, [Row(id=1)]), "t")
        lake.create_branch("t", "stage")
        lake.write_to_branch(
            df_of(spark, [Row(id=2)]), "t", "append", branch="stage"
        )
        lake.write_to_branch(
            df_of(spark, [Row(id=3)]), "t", "append", branch="stage"
        )
        lake.vacuum("t", keep_last=1)  # keeps main head + branch HEAD only
        import pytest as _pytest

        with _pytest.raises(ValueError, match="not an ancestor"):
            lake.fast_forward("t", "stage")

    def test_vacuum_keeps_branch_head(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.replace(df_of(spark, [Row(id=1, v="a")]), "t")
        lake.create_branch("t", "keepme")
        lake.write_to_branch(
            df_of(spark, [Row(id=2, v="b")]), "t", "append", branch="keepme"
        )
        # several main commits so vacuum has something to expire
        for i in range(3):
            lake.append(df_of(spark, [Row(id=10 + i, v="x")]), "t")
        lake.vacuum("t", keep_last=1)
        assert {r.id for r in lake.read("t", "keepme").collect()} == {1, 2}

    def test_tag_cannot_shadow_a_branch(self, spark, tmp_path):
        # A branch merge used to read its base from a same-named tag, and
        # the publish dropped every row committed after the tag: main
        # ended as [1, 3], row 2 gone.
        lake = make_lake(spark, tmp_path)
        lake.replace(df_of(spark, [Row(id=1, v="a")]), "t")
        lake.set_ref("t", "x")
        lake.append(df_of(spark, [Row(id=2, v="b")]), "t")
        head = lake.current_version("t")
        with pytest.raises(ValueError, match="already a tag"):
            lake.write_to_branch(
                df_of(spark, [Row(id=3, v="c")]), "t", "merge", ("id",), branch="x"
            )
        assert lake.branches("t") == {}
        assert lake.current_version("t") == head
        assert sorted(rows_by_id(lake, "t")) == [1, 2]

    def test_branch_and_tag_names_are_exclusive(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.replace(df_of(spark, [Row(id=1, v="a")]), "t")
        lake.set_ref("t", "tag")
        lake.create_branch("t", "branch")
        with pytest.raises(ValueError, match="already a tag"):
            lake.create_branch("t", "tag")
        with pytest.raises(ValueError, match="already a branch"):
            lake.set_ref("t", "branch")
        assert set(lake.refs("t")) == {"tag"}
        assert set(lake.branches("t")) == {"branch"}
        # re-pinning a tag, or re-forking a branch, under its own name is
        # not a clash
        lake.set_ref("t", "tag")
        lake.create_branch("t", "branch")

    def test_main_is_reserved(self, spark, tmp_path):
        # "main" names the published head in the ref map: tagging it would
        # shadow it, forking it would move main past fast_forward's
        # ancestry check, and dropping it would delete the table's head.
        lake = make_lake(spark, tmp_path)
        lake.replace(df_of(spark, [Row(id=1, v="a")]), "t")
        head = lake.current_version("t")
        lake.write_to_branch(
            df_of(spark, [Row(id=2, v="b")]), "t", "append", branch="stage"
        )
        staged = lake.branches("t")["stage"]
        for call in (
            lambda: lake.set_ref("t", "main"),
            lambda: lake.create_branch("t", "main", staged),
            lambda: lake.drop_ref("t", "main"),
            lambda: lake.drop_branch("t", "main"),
        ):
            with pytest.raises(ValueError, match="reserved"):
                call()
        assert lake.current_version("t") == head
        assert lake.refs("t") == {} and lake.branches("t") == {"stage": staged}
        assert sorted(lake.read("t", "main").collect()) == sorted(lake.read("t").collect())
        assert sorted(rows_by_id(lake, "t")) == [1]


class TestOneLayout:
    """Each table keeps its heads in one ref map and writes one manifest
    shape, through create, append, tag, branch write, publish and
    vacuum."""

    def test_one_ref_map_and_one_manifest_shape(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        lake.replace(df_of(spark, [Row(id=1, v="a")]), "t")
        lake.append(df_of(spark, [Row(id=2, v="b")]), "t")
        tagged = lake.set_ref("t", "tag")
        lake.write_to_branch(
            df_of(spark, [Row(id=3, v="c")]), "t", "merge", ("id",), branch="stage"
        )
        head = lake.fast_forward("t", "stage")
        lake.write_to_branch(
            df_of(spark, [Row(id=4, v="rejected")]), "t", "append", branch="wap"
        )
        lake.drop_branch("t", "wap")
        assert lake.vacuum("t", keep_last=10)  # the rejected staging dir

        tdir = lake.root / "t"
        names = sorted(p.name for p in tdir.iterdir())
        layout = r"_REFS\.json|_SCHEMA\.json|_PROPERTIES\.json|_MANIFEST\.\d+\.json|data_\d+"
        assert [n for n in names if not re.fullmatch(layout, n)] == []
        assert "_MANIFEST.0.json" in names
        for manifest in tdir.glob("_MANIFEST.*.json"):
            data = json.loads(manifest.read_text())
            assert isinstance(data, dict) and set(data) == {"dirs", "committed_at", "parent"}
        refs = json.loads((tdir / "_REFS.json").read_text())
        assert refs == {
            "main": {"version": head, "type": "branch"},
            "tag": {"version": tagged, "type": "tag"},
            "stage": {"version": head, "type": "branch"},
        }
        assert sorted(rows_by_id(lake, "t")) == [1, 2, 3]


class TestOneWritePath:
    """``write`` and ``write_to_branch`` + ``fast_forward`` run one
    disposition body against two refs: the same live rows, report,
    commits and W4 warning for every disposition, batch and table."""

    SCHEMA = "id long, v string"

    def _write_once(self, spark, lake, caplog, via_branch, seeded, rows, disposition, pk):
        if seeded:
            lake.replace(spark.createDataFrame([(1, "a"), (2, "b")], self.SCHEMA), "t")
        manifests = lambda: len(list((lake.root / "t").glob("_MANIFEST.*.json")))  # noqa: E731
        before = manifests()
        batch = spark.createDataFrame(rows, self.SCHEMA)
        caplog.clear()
        with caplog.at_level(logging.WARNING, logger=dispositions.logger.name):
            if via_branch:
                report = lake.write_to_branch(batch, "t", disposition, pk, branch="wap")
                lake.fast_forward("t", "wap")
            else:
                report = lake.write(batch, "t", disposition, pk)
        warned = any(r.name == dispositions.logger.name for r in caplog.records)
        return sorted(lake.read("t").collect()), report, manifests() - before, warned

    @pytest.mark.parametrize("seeded", [False, True], ids=["absent", "holding-rows"])
    @pytest.mark.parametrize(
        "rows", [[], [(1, "x"), (1, "y")]], ids=["empty", "shared-key"]
    )
    @pytest.mark.parametrize(
        "disposition,pk",
        [
            ("append", ()),
            ("replace", ()),
            ("merge", ("id",)),
            ("merge", ()),
            ("merge", ("nope",)),
        ],
        ids=["append", "replace", "merge-id", "merge-no-pk", "merge-missing-pk"],
    )
    def test_main_and_branch_agree(
        self, spark, tmp_path, caplog, disposition, pk, rows, seeded
    ):
        main, branch = (
            self._write_once(
                spark,
                ParquetLake(spark, tmp_path / f"lake{i}"),
                caplog,
                via_branch,
                seeded,
                rows,
                disposition,
                pk,
            )
            for i, via_branch in enumerate((False, True))
        )
        assert main[0] == branch[0]  # live rows
        assert main[1] == branch[1]  # WriteReport, every field
        assert main[2] == branch[2]  # new manifests
        for _rows, report, _new, warned in (main, branch):
            assert warned == report.fallback_append
        if not rows and disposition != "replace":
            # an empty batch commits nothing (first contact: manifest 0 only)
            assert main[2] == (0 if seeded else 1)

    def test_one_copy_on_write_in_source(self):
        root = Path(pkg.__file__).resolve().parent
        source = (root / "sinks" / "dispositions.py").read_text()
        assert source.count('"left_anti"') == 1
        # one atomic metadata write: every ref move and metadata file
        assert source.count("os.replace(") == 1
        gone = (
            "append_to_branch",
            "_write_to_branch",
            "dedupe_batch",
            "_POINTER",
            "_BRANCHES",
            "_is_legacy_manifest",
        )
        offenders = [
            f"{path.relative_to(root)}: {name}"
            for path in sorted(root.rglob("*.py"))
            for name in gone
            if name in path.read_text()
        ]
        assert offenders == []


class TestCompactZorder:
    def test_rows_preserved_and_files_clustered(self, spark, tmp_path):
        lake = make_lake(spark, tmp_path)
        rows = [Row(id=i, x=i % 16, y=(i * 7) % 16, v=float(i)) for i in range(256)]
        lake.replace(df_of(spark, rows), "t")
        before = rows_by_id(lake, "t")
        rep = lake.compact_zorder("t", ["x", "y"], num_files=4, bits=4)
        assert rep.rows_written == 256
        assert rows_by_id(lake, "t") == before  # logical no-op
        # clustering: each output file's x-range must be narrower than
        # the global domain (files cover tight hyper-rectangles)
        import pyarrow.parquet as pq
        from pathlib import Path

        dirs = lake._current_manifest("t")
        assert len(dirs) == 1
        files = sorted(Path(lake.table_location("t"), dirs[0]).glob("part-*.parquet"))
        assert len(files) >= 2
        spans = []
        for f in files:
            t_ = pq.read_table(f, columns=["x", "y"])
            xs, ys = t_["x"].to_pylist(), t_["y"].to_pylist()
            if xs:
                spans.append((max(xs) - min(xs)) + (max(ys) - min(ys)))
        assert min(spans) < 30  # global span would be 15+15


class TestArrowAndSparkWritersAgree:
    """The same landed batch written as a driver-side Arrow table and as
    ``spark.createDataFrame(batch)`` gives the same table: rows, schema
    and report. The Arrow writer runs no Spark job except a merge's
    copy-on-write rewrite, and reports the cursor the Spark expression
    ``date_format(max(c), CANONICAL_TS_FORMAT)`` gives for its rows."""

    @staticmethod
    def landed(spark, sobject="Account", version=1, replication_key="LastModifiedDate", **kw):
        return read_object(
            spark,
            make_transport(version),
            sobject,
            replication_key=replication_key,
            load_id="L",
            **kw,
        )

    @staticmethod
    def jobs(spark, fn):
        """``fn()``'s result and the number of Spark jobs it ran."""
        sc = spark.sparkContext
        group = f"arrow-writer-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "arrow writer")
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    @staticmethod
    def spark_cursor(spark, batch):
        """What Spark gives for the max of the batch's marked column."""
        (column,) = [f.name for f in batch.schema if f.metadata]
        return spark.createDataFrame(batch).select(
            F.date_format(F.max(column), CANONICAL_TS_FORMAT)
        ).first()[0]

    APPEND, REPLACE = {"disposition": "append"}, {"disposition": "replace"}
    MERGE = {"disposition": "merge", "primary_key": ("id",)}
    W4 = {"disposition": "merge"}
    WAP = {**MERGE, "branch": "wap"}
    V1, V2 = {}, {"version": 2}
    TASK = {"sobject": "Task", "replication_key": "SystemModstamp"}
    NOTHING_NEW = {"last_state": "2099-01-01T00:00:00.000000Z"}
    # each case's writes: (write kwargs, landed() kwargs, the most Spark
    # jobs the Arrow writer may run); only a merge into data runs any
    CASES = {
        "append": [(APPEND, V1, 0), (APPEND, V2, 0)],
        "replace": [(REPLACE, V1, 0), (REPLACE, V2, 0)],
        "empty-replace": [(REPLACE, V1, 0), (REPLACE, NOTHING_NEW, 0)],
        "first-contact-merge": [(MERGE, V1, 0)],
        "merge-into-data": [(MERGE, V1, 0), (MERGE, V2, 2)],
        "w4-fallback": [(W4, TASK, 0), (W4, TASK, 0)],
        "wap-branch": [(WAP, V1, 0), (WAP, V2, 2)],
    }

    @pytest.mark.parametrize("case", list(CASES))
    def test_both_writers_give_the_same_table(self, spark, tmp_path, case):
        by_arrow = ParquetLake(spark, tmp_path / "arrow")
        by_spark = ParquetLake(spark, tmp_path / "spark")
        for write_kw, land_kw, max_jobs in self.CASES[case]:
            method = "write_to_branch" if "branch" in write_kw else "write"
            batch = self.landed(spark, **land_kw)
            arrow_report, n_jobs = self.jobs(
                spark, lambda: getattr(by_arrow, method)(batch, "t", **write_kw)
            )
            spark_report = getattr(by_spark, method)(
                spark.createDataFrame(batch), "t", **write_kw
            )
            assert n_jobs <= max_jobs
            assert (arrow_report.rows_written, arrow_report.fallback_append) == (
                spark_report.rows_written,
                spark_report.fallback_append,
            )
            assert arrow_report.rows_written == batch.num_rows
            assert arrow_report.cursor == self.spark_cursor(spark, batch)
            # the mark lives in the Arrow field metadata, which
            # createDataFrame drops: the DataFrame writer reports none
            assert spark_report.cursor is None
        ref = "wap" if case == "wap-branch" else None
        got, want = by_arrow.read("t", ref), by_spark.read("t", ref)
        assert by_arrow.schema("t") == by_spark.schema("t")
        assert got.schema == want.schema
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    def test_schema_drift_takes_the_spark_route(self, spark, tmp_path):
        lake = ParquetLake(spark, tmp_path / "lake")
        first = self.landed(spark)
        lake.write(first, "t", "append")
        # a batch that lost a column and carries one the table lacks
        drifted = self.landed(spark, version=2).drop_columns(["industry"]).append_column(
            "extra", pa.array([1, 2, 3], pa.int64())
        )
        assert isinstance(lake._land("t", drifted), DataFrame)
        report = lake.write(drifted, "t", "merge", ("id",))
        assert report.rows_written == 3
        assert report.cursor == self.spark_cursor(spark, drifted)
        rows = rows_by_id(lake, "t")
        assert rows["001C"]["industry"] is None and "extra" not in rows["001C"]
        assert lake.schema("t") == spark.createDataFrame(first).schema

    def test_partitioned_table_takes_the_spark_route(self, spark, tmp_path):
        lake = ParquetLake(spark, tmp_path / "lake")
        batch = self.landed(spark, "Task", replication_key="SystemModstamp")
        lake.create_table("t", spark.createDataFrame(batch).schema, partition_by=["subject"])
        assert isinstance(lake._land("t", batch), DataFrame)
        report = lake.write(batch, "t", "append")
        assert (report.rows_written, report.cursor) == (2, self.spark_cursor(spark, batch))
        assert sorted(p.name for p in (lake.root / "t").glob("data_*/subject=*")) == [
            "subject=call",
            "subject=email",
        ]

    @pytest.mark.parametrize(
        "instants",
        [
            [datetime.datetime(2024, 1, 2, 3, 4, 5), datetime.datetime(2023, 6, 1)],
            [datetime.datetime(2024, 1, 2, 3, 4, 5, 123456), None],
            [datetime.datetime(999, 12, 31, 23, 59, 59, 10)],
            [datetime.datetime(1969, 12, 31, 23, 59, 58, 500000)],
            [None, None],
        ],
        ids=["trailing-zero-micros", "micros-and-null", "3-digit-year", "pre-epoch", "all-null"],
    )
    def test_driver_cursor_equals_date_format(self, spark, instants):
        utc = datetime.timezone.utc
        values = [t and t.replace(tzinfo=utc) for t in instants]
        field = pa.field("c", pa.timestamp("us", tz="UTC"), metadata={CURSOR_HINT: "true"})
        batch = pa.table([pa.array(values, field.type)], schema=pa.schema([field]))
        assert dispositions._cursor(batch) == self.spark_cursor(spark, batch)
        assert dispositions._cursor(batch.cast(pa.schema([field.remove_metadata()]))) is None
