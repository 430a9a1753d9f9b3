"""Write dispositions (W1-W6) on a snapshot-versioned parquet lake.

The reference's heart is its dlt custom destination
(/root/reference/salesforce_pipeline.py:62-176): per-batch it loads or
creates an Iceberg table, aligns the batch to the table schema, and then

- append:  ``i_table.append(pa_table)``                        (:176)
- replace: ``delete(AlwaysTrue())`` then append - two commits,
  NOT atomic                                                   (:79-81)
- merge:   build a PK expression from the batch, ``delete(filter)``,
  then append = batch-local delete-then-insert upsert          (:83-130)
- fallback: merge without usable PKs warns and appends         (:131-138)
- auto-create with parquet/snappy table properties             (:140-151)

This module reproduces those semantics on plain parquet with an
Iceberg-style commit protocol so the tests (and any catalog-less
deployment) get real snapshot isolation:

- each table is a directory of immutable data dirs plus numbered
  manifest files; a manifest lists the data dirs visible in that
  snapshot, its commit time and its parent version, and every
  manifest (the empty manifest 0 included) has that one shape;
- one ref map per table, ``_REFS.json``, names every head the way
  Iceberg table metadata's ``refs`` does: ``name -> {"version",
  "type"}``, where ``main`` is the branch holding the published
  snapshot, WAP branches are branches too, and tags pin a version.
  Tags and branches share that one namespace, and ``main`` is reserved;
- a commit = write data dir(s), write manifest N+1, then atomically
  replace the ref map. Readers resolve a ref once - a crashed writer
  can never leave a half-visible table (STRICTLY better than the
  reference's two-commit replace, which has a visible-empty window).
  The ref map is read, changed and replaced without a lock, so each
  table has one writer at a time: ``SalesforcePipeline`` loads each
  table on one thread (``session.concurrently`` gives each resource
  one call, and a resource named twice is refused);
- append never rewrites history (manifest N+1 = manifest N + new dir) -
  O(batch), not O(table);
- merge is copy-on-write like Iceberg's MERGE INTO default: rewrite of
  the surviving base + batch. The anti-join is broadcast when the batch
  is small (the reference's 1k-10k row dlt batches always are), so at
  100 TB the shuffle cost is one broadcast pass over the base, not a
  sort-merge of the table.

Like the reference, there is one destination body (``ParquetLake._write``)
and two refs it commits to: main (:meth:`ParquetLake.write`) or a WAP
branch (:meth:`ParquetLake.write_to_branch`). It is built from two
primitives, append-or-skip (an empty batch commits nothing) and the
copy-on-write rewrite, which ``merge_cdc`` shares.

Like the reference's ``i_table.append(pa_table)``, the body takes a
driver-side Arrow batch (what ``sources.salesforce.read_object``
lands) and writes it from the driver as one Parquet file, with its
rows and cursor read there: only a merge into a table that has data
runs Spark, for its rewrite. A DataFrame batch, and an Arrow batch
that needs alignment or goes to a partitioned table, is written by
Spark.

The layout has one format. A lake in the earlier layout (main's head
and the branches each in a store of their own, manifest 0 a bare list)
is neither read nor migrated: ``exists`` does not see its tables.

This lake is the one implementation of the reference's Iceberg table
semantics. A real Iceberg catalog would be a second backend under
``_write`` (the same rows and cursor, the commit summary as
``snapshot-property.*``), not a parallel copy of the dispositions.
"""

from __future__ import annotations

import datetime
import json
import logging
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from ..normalize import (
    CURSOR_HINT,
    align_to_schema,
    nullable_everything,
    widen_types,
)

logger = logging.getLogger(__name__)

# Table properties written at auto-create (salesforce_pipeline.py:146-149).
CODEC = "write.parquet.compression-codec"
DEFAULT_TABLE_PROPERTIES = {"write.format.default": "parquet", CODEC: "snappy"}

# Marker column for guard_stale tombstones: a delete that wins under the
# version guard persists as a row with this column True (payload NULL,
# last_version = the delete's version), hidden by `read` and retained
# until `compact_tombstones`. Kept rows carry False/NULL.
TOMBSTONE_COL = "_cdc_deleted"

# Column names merge_cdc generates or persists; a changelog whose key or
# payload uses one of these would collide (ambiguous/duplicate columns,
# or silent guard-state corruption), so merge_cdc rejects them up front.
_CDC_RESERVED = ("last_version", TOMBSTONE_COL, "__op", "__base_v")

# The branch that holds a table's published snapshot, in its ref map.
MAIN = "main"


@dataclass
class WriteReport:
    table: str
    disposition: str
    rows_written: int
    fallback_append: bool = False
    # Max of an Arrow batch's marked cursor column (:func:`_cursor`);
    # None for a DataFrame batch, without a marked cursor column or
    # without a non-null cursor value.
    cursor: str | None = None


def falls_back_to_append(
    disposition: str, primary_key: tuple[str, ...] | list[str], columns: list[str]
) -> bool:
    """W4 (salesforce_pipeline.py:131-138): a merge without a primary
    key, or on PK columns the table lacks, is written as an append."""
    return disposition == "merge" and (
        not primary_key or any(k not in columns for k in primary_key)
    )


def _cursor(batch: pa.Table) -> str | None:
    """The max of the column whose Arrow field metadata carries
    ``normalize.CURSOR_HINT``, read on the driver and written as
    ``F.date_format(F.max(c), CANONICAL_TS_FORMAT)`` writes it in a UTC
    session (4-digit year, 6-digit micros, a literal ``Z``). None
    without a marked column or without a non-null value in it."""
    marked = [
        f.name for f in batch.schema if CURSOR_HINT.encode() in (f.metadata or {})
    ]
    if not marked:
        return None
    (column,) = marked
    top = pc.max(batch[column].cast(pa.timestamp("us", tz="UTC"))).value
    if top is None:
        return None
    t = datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=top)
    return f"{t.year:04d}-{t:%m-%dT%H:%M:%S}.{t.microsecond:06d}Z"


def _columns(schema: T.StructType) -> list[tuple[str, T.DataType]]:
    return [(f.name, f.dataType) for f in schema.fields]


def _refuse_main(table: str, name: str) -> None:
    if name == MAIN:
        raise ValueError(
            f"{MAIN!r} is reserved for the published head of {table}"
        )


def _write_json(path: Path, data) -> None:
    """Replace ``path`` with ``data`` as JSON in one atomic step (a temp
    file, then a rename over it): a reader sees the old file or the new
    one, never a half-written one."""
    tmp = path.with_name(f"{path.name}.tmp")
    tmp.write_text(json.dumps(data))
    os.replace(tmp, path)


class ParquetLake:
    """Snapshot-versioned parquet tables under one root directory."""

    def __init__(self, spark: SparkSession, root: str | os.PathLike[str]) -> None:
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # -- catalog surface (S4/S5 parity: check_tables.py:29-47) ------------

    def list_tables(self) -> list[str]:
        return sorted(
            p.name
            for p in self.root.iterdir()
            if p.is_dir() and (p / "_REFS.json").exists()
        )

    def exists(self, table: str) -> bool:
        return (self.root / table / "_REFS.json").exists()

    def table_location(self, table: str) -> str:
        return str(self.root / table)

    def table_properties(self, table: str) -> dict[str, str]:
        props = self.root / table / "_PROPERTIES.json"
        return json.loads(props.read_text()) if props.exists() else {}

    def read(
        self,
        table: str,
        version: int | str | None = None,
        *,
        with_tombstones: bool = False,
    ) -> DataFrame:
        """Scan a snapshot (S4): main's head, ``version`` for time
        travel (any manifest `vacuum` hasn't expired), or a ref name
        from the table's ref map: a tag (:meth:`set_ref`), a branch
        (:meth:`create_branch`) or ``"main"`` — the Iceberg ``VERSION
        AS OF 'ref'`` analog.

        A snapshot with no data dirs (a table created but never
        written, or truncated by an empty replace) is an empty Arrow
        table of the table schema: a ``LocalRelation``, so scanning it
        starts no Python worker.

        Guard tombstones (see :meth:`merge_cdc` ``guard_stale``) are
        filtered out and the marker column dropped — readers see live
        rows only, exactly the pre-tombstone result set. Internal
        copy-on-write rewrites pass ``with_tombstones=True`` so guard
        state survives merges and compactions (an equality-delete-file
        read analog: the scan applies the deletes, maintenance carries
        them)."""
        if version is None or isinstance(version, str):
            version = self._head(table, version)
        elif not self._manifest_path(table, version).exists():
            raise ValueError(
                f"snapshot {version} of {table} does not exist "
                "(never written, or expired by vacuum)"
            )
        dirs = self._manifest(table, version)["dirs"]
        schema = self.schema(table)
        if not dirs:
            empty = pa.Table.from_batches([], to_arrow_schema(schema))
            df = self.spark.createDataFrame(empty, schema)
        else:
            paths = [str(self.root / table / d) for d in dirs]
            df = self.spark.read.schema(schema).parquet(*paths)
        if not with_tombstones and TOMBSTONE_COL in df.columns:
            df = df.filter(
                ~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))
            ).drop(TOMBSTONE_COL)
        return df

    def current_version(self, table: str) -> int:
        """Public snapshot id for time travel / diff: main's head."""
        return self._head(table)

    def diff(
        self, table: str, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change feed between two snapshots: the multiset difference in
        both directions, tagged ``insert`` / ``delete`` (an update under
        the merge disposition appears as a delete+insert pair, exactly
        the reference's delete-then-insert merge semantics,
        salesforce_pipeline.py:83-130).

        ``exceptAll`` keeps duplicate multiplicity, so batch-local
        duplicate PKs (which the reference preserves) diff correctly.
        At 100 TB both sides hash-shuffle once on the full row; for
        PK-keyed tables prefer diffing on (pk, row-hash) projections."""
        old = self.read(table, from_version)
        new = self.read(table, to_version)
        return new.exceptAll(old).withColumn(
            "change_type", F.lit("insert")
        ).unionByName(
            old.exceptAll(new).withColumn("change_type", F.lit("delete"))
        )

    def count(self, table: str) -> int:
        """A1 verification count - metadata-only on parquet footers."""
        return self.read(table).count()

    # -- the ref map (Iceberg ``refs``): main, branches and tags ----------

    def _ref_map(self, table: str) -> dict[str, dict]:
        """``name -> {"version": int, "type": "branch" | "tag"}``, main
        included; empty for a table that does not exist."""
        p = self.root / table / "_REFS.json"
        return json.loads(p.read_text()) if p.exists() else {}

    def _put_ref(
        self, table: str, name: str, version: int | None, kind: str = "branch"
    ) -> None:
        """Point ``name`` at ``version`` as a ``kind`` ref, or remove it
        (``version`` None), in one atomic replace of the ref map."""
        refs = self._ref_map(table)
        if version is None:
            refs.pop(name, None)
        else:
            refs[name] = {"version": version, "type": kind}
        _write_json(self.root / table / "_REFS.json", refs)

    def _head(self, table: str, ref: str | None = None) -> int:
        """The version ``ref`` points at; main's head for None."""
        entry = self._ref_map(table).get(ref or MAIN)
        if entry is None:
            raise ValueError(f"ref {ref or MAIN!r} does not exist on {table}")
        return entry["version"]

    def _named(self, table: str, kind: str) -> dict[str, int]:
        return {
            name: entry["version"]
            for name, entry in self._ref_map(table).items()
            if entry["type"] == kind and name != MAIN
        }

    def _claim(self, table: str, name: str, kind: str, version: int | None) -> int:
        """Point the ``kind`` ref ``name`` at ``version`` (main's head
        by default), the body of :meth:`set_ref` and
        :meth:`create_branch`. ``main`` is reserved, and a name held by
        the other kind is refused (``read`` resolves a name to one
        ref); re-pinning a tag or re-forking a branch under its own
        name is allowed."""
        _refuse_main(table, name)
        held = self._ref_map(table).get(name)
        if held is not None and held["type"] != kind:
            raise ValueError(f"{name!r} is already a {held['type']} of {table}")
        v = self._head(table) if version is None else version
        if not self._manifest_path(table, v).exists():
            raise ValueError(f"snapshot {v} of {table} does not exist")
        self._put_ref(table, name, v, kind)
        return v

    def _drop(self, table: str, name: str, kind: str) -> None:
        """Remove the ``kind`` ref ``name`` if there is one, the body of
        :meth:`drop_ref` and :meth:`drop_branch`."""
        _refuse_main(table, name)
        if self._ref_map(table).get(name, {}).get("type") == kind:
            self._put_ref(table, name, None)

    # -- named snapshot refs (Iceberg tag analog) -------------------------

    def refs(self, table: str) -> dict[str, int]:
        """Named snapshot refs: tag name -> pinned version."""
        return self._named(table, "tag")

    def set_ref(self, table: str, name: str, version: int | None = None) -> int:
        """Pin a name to a snapshot (main's head by default) — the
        Iceberg tag: reproducible reads (`read(table, 'ref')`) that
        survive later commits, and a retention root for `vacuum`
        (tagged snapshots never expire — same contract as Iceberg's
        expire_snapshots). Audit/eval pipelines tag the snapshot they
        ran on; retraining reads the tag, not 'whatever is current'.
        Raises ValueError for ``"main"`` and for a branch's name."""
        return self._claim(table, name, "tag", version)

    def drop_ref(self, table: str, name: str) -> None:
        self._drop(table, name, "tag")

    def schema(self, table: str) -> T.StructType:
        schema_file = self.root / table / "_SCHEMA.json"
        return T.StructType.fromJson(json.loads(schema_file.read_text()))

    # -- snapshot plumbing -------------------------------------------------

    def _manifest_path(self, table: str, v: int) -> Path:
        return self.root / table / f"_MANIFEST.{v}.json"

    def _manifest(self, table: str, v: int) -> dict:
        """Manifest ``v``: ``{"dirs", "committed_at", "parent"}``, the
        commit time in epoch micros (None for manifest 0) and the
        parent version (None for manifest 0)."""
        return json.loads(self._manifest_path(table, v).read_text())

    def _current_manifest(self, table: str, ref: str | None = None) -> list[str]:
        return self._manifest(table, self._head(table, ref))["dirs"]

    def _commit(self, table: str, data_dirs: list[str], ref: str | None = None) -> None:
        """Write a new manifest, then move ``ref`` (main for None) to it
        in the ref map. Manifests record commit wall-clock (epoch
        micros, for AS-OF time travel) and their PARENT version (for
        fast-forward ancestry checks). Version numbers are allocated
        globally (1 + max existing manifest), so branch and main
        histories never collide."""
        import time

        tdir = self.root / table
        parent = self._head(table, ref)
        existing = [int(m.name.split(".")[1]) for m in tdir.glob("_MANIFEST.*.json")]
        v = (max(existing) if existing else -1) + 1
        _write_json(
            self._manifest_path(table, v),
            {
                "dirs": data_dirs,
                "committed_at": time.time_ns() // 1000,
                "parent": parent,
            },
        )
        self._put_ref(table, ref or MAIN, v)

    # -- branches (Iceberg branch / write-audit-publish analog) ----------

    def branches(self, table: str) -> dict[str, int]:
        """Named MUTABLE heads other than main: branch name -> head
        version. Unlike tags (:meth:`set_ref`, pinned forever), a branch
        advances when written to via :meth:`write_to_branch`."""
        return self._named(table, "branch")

    def create_branch(self, table: str, name: str, version: int | None = None) -> int:
        """Fork a branch at a snapshot (main's head by default) — the
        Iceberg branch, enabling WRITE-AUDIT-PUBLISH: load into the
        branch, validate it (`operators.expectations.check_report` over
        ``read(table, branch)``), then :meth:`fast_forward` main. A
        failed audit just drops the branch; main never saw bad data.
        Raises ValueError for ``"main"`` (only :meth:`fast_forward`
        moves main) and for a tag's name."""
        return self._claim(table, name, "branch", version)

    def drop_branch(self, table: str, name: str) -> None:
        self._drop(table, name, "branch")

    def _main_ancestry(self, table: str, limit: int | None = None) -> list[int]:
        """Versions along MAIN's parent chain, newest first, starting at
        main's head. The chain is the published lineage — branch heads
        and orphaned WAP staging manifests are never on it (until a
        fast_forward publishes them). Stops at manifest 0 (no parent),
        at a manifest `vacuum` expired, or after ``limit`` versions."""
        chain: list[int] = []
        v: int | None = self._head(table)
        while v is not None and (limit is None or len(chain) < limit):
            if not self._manifest_path(table, v).exists():
                break
            chain.append(v)
            v = self._manifest(table, v)["parent"]
        return chain

    def fast_forward(self, table: str, branch: str) -> int:
        """PUBLISH: advance main to the branch head — atomic and
        metadata-only (the data dirs were already written by the branch
        commits). Refuses unless main's current snapshot is an ANCESTOR
        of the branch head (walking the manifests' parent chain), i.e.
        nothing was committed to main since the fork — the Iceberg
        fast_forward contract; a diverged main must be resolved by
        re-branching, never silently overwritten."""
        heads = self.branches(table)
        if branch not in heads:
            raise ValueError(f"branch {branch!r} does not exist on {table}")
        head = heads[branch]
        current = self._head(table)
        v: int | None = head
        while v is not None and v > current:
            try:
                v = self._manifest(table, v)["parent"]
            except FileNotFoundError:
                # Interior branch lineage expired by vacuum: the walk can
                # no longer prove ancestry — same clean refusal as a
                # genuinely diverged main, never an unhandled IO error.
                v = None
        if v != current:
            raise ValueError(
                f"main of {table} (v{current}) is not an ancestor of "
                f"branch {branch!r} (v{head}); cannot fast-forward"
            )
        self._put_ref(table, MAIN, head)
        return head

    def version_as_of(self, table: str, as_of) -> int:
        """Resolve the snapshot current AS OF a wall-clock instant
        (Iceberg `TIMESTAMP AS OF` / `snapshot_id_as_of`): the newest
        MAIN-lineage ancestor whose commit time <= ``as_of`` (datetime
        or epoch micros). Resolution walks main's parent chain — branch
        commits and dropped (audit-failed) WAP staging manifests are
        invisible, matching Iceberg's contract that timestamp travel
        follows the main branch history only. The empty manifest 0
        carries no commit time, so it resolves only by explicit version
        number."""
        import datetime as _dt

        if isinstance(as_of, _dt.datetime):
            as_of = int(as_of.timestamp() * 1_000_000)
        # Commit times are monotone along the parent chain (child commits
        # after parent), so the first qualifying ancestor is the answer.
        for v in self._main_ancestry(table):
            ts = self._manifest(table, v)["committed_at"]
            if ts is not None and ts <= as_of:
                return v
        raise ValueError(
            f"no snapshot of {table} committed at or before {as_of}"
        )

    def partition_columns(self, table: str) -> list[str]:
        spec = self.table_properties(table).get("partition-by", "")
        return [c for c in spec.split(",") if c]

    def _new_data_dir(self, table: str, batch: pa.Table | DataFrame) -> tuple[str, int]:
        """Materialize ``batch`` as an immutable data dir; returns (name,
        rows).

        An Arrow batch (already in the table's Arrow schema, see
        :meth:`_land`) is written from the driver as one Parquet file
        compressed with the table's :data:`CODEC`, as the reference's
        destination writes its batches: no Spark job. Its timestamps are
        stored as INT64 micros (Iceberg's type) and read back at the
        table schema like Spark's own files.

        A DataFrame is written by a Spark job whose row count rides the
        write itself via ``observe()`` (one scan total): a read-back
        count would be a second full scan of just-written data per
        commit, which at 100 TB doubles every load's I/O."""
        tdir = self.root / table
        # Allocate past any existing dir, not main-version + 1: branch
        # commits write data dirs without advancing main's head, so
        # version-derived names would collide on the next write.
        existing = [
            int(p.name.split("_")[1])
            for p in tdir.glob("data_*")
            if p.name.split("_")[1].isdigit()
        ]
        v = max(existing, default=self._head(table)) + 1
        name = f"data_{v:06d}"
        if isinstance(batch, pa.Table):
            (tdir / name).mkdir()
            pq.write_table(
                batch,
                tdir / name / "part-00000.parquet",
                compression=self.table_properties(table).get(CODEC, "snappy"),
            )
            return name, batch.num_rows
        obs = Observation(f"rows_{table}_{v}")
        writer = batch.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "errorifexists"
        )
        parts = self.partition_columns(table)
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(str(tdir / name))
        return name, int(obs.get["n"])

    # -- W5: auto-create ---------------------------------------------------

    def create_table(
        self,
        table: str,
        schema: T.StructType,
        properties: dict[str, str] | None = None,
        partition_by: list[str] | None = None,
    ) -> None:
        """First-contact table creation (salesforce_pipeline.py:140-151):
        widened, all-nullable schema + parquet/snappy properties.

        ``partition_by`` columns are recorded as a table property and
        applied on every data-dir write (hive-style directories), so
        filters on them prune at the file-listing level - the plain-
        parquet analog of Iceberg partition transforms. At 100 TB the
        cursor/date column of every append-heavy table should be here.
        """
        tdir = self.root / table
        tdir.mkdir(parents=True, exist_ok=True)
        final_schema = nullable_everything(widen_types(schema))
        _write_json(tdir / "_SCHEMA.json", final_schema.jsonValue())
        props = dict(properties or DEFAULT_TABLE_PROPERTIES)
        if partition_by:
            props["partition-by"] = ",".join(partition_by)
        _write_json(tdir / "_PROPERTIES.json", props)
        _write_json(
            self._manifest_path(table, 0),
            {"dirs": [], "committed_at": None, "parent": None},
        )
        # The ref map comes last: it is the table's commit point, so a
        # crash before it leaves no table that `exists` would report.
        self._put_ref(table, MAIN, 0)

    def drop_table(self, table: str) -> None:
        shutil.rmtree(self.root / table, ignore_errors=True)

    def _land(self, table: str, batch: pa.Table) -> pa.Table | DataFrame:
        """Auto-create if missing, then decide where an Arrow batch is
        written. A batch with the table's columns (names and Arrow types
        in order) into an unpartitioned table stays on the driver,
        returned in the table's Arrow schema (the cast changes no type;
        it drops the cursor mark). Any other batch enters Spark as a
        ``LocalRelation`` and takes the DataFrame route (:meth:`_prepare`):
        schema drift keeps :func:`align_to_schema`'s permissive casts
        (and Spark's session-zone reading of naive timestamps), and a
        partitioned table keeps Spark's hive partition-value encoding."""
        if not self.exists(table):
            self.create_table(table, from_arrow_schema(batch.schema))
        target = to_arrow_schema(self.schema(table))
        if self.partition_columns(table) or [
            (f.name, f.type) for f in batch.schema
        ] != [(f.name, f.type) for f in target]:
            return self._prepare(table, self.spark.createDataFrame(batch))
        return batch.cast(target)

    def _prepare(self, table: str, df: DataFrame) -> DataFrame:
        """Auto-create if missing, then T3-align the batch to the table
        schema (add typed NULLs, drop extras, target order -
        salesforce_pipeline.py:153-176). A batch that already has the
        table's columns, names and types in order, is returned as is:
        the aligning projection costs ~40 driver round trips per column
        and would change nothing."""
        if not self.exists(table):
            self.create_table(table, df.schema)
        target = self.schema(table)
        if _columns(df.schema) == _columns(target):
            return df
        return align_to_schema(df, target)

    def evolve_schema(self, table: str, batch_schema: T.StructType) -> list[str]:
        """Additive schema evolution (the opt-in extension SURVEY §7
        schedules next to reference-parity alignment, which silently
        DROPS unknown batch columns — salesforce_pipeline.py:166):
        append any batch column the table lacks, widened + nullable,
        Iceberg add-column style. METADATA-ONLY — existing data dirs
        are untouched; the explicit-schema parquet scan returns typed
        NULLs for files that predate a column (exactly how Iceberg
        reads pre-evolution files). Existing columns never change type
        or position, so field identity is positional-stable. Returns
        the added column names."""
        current = self.schema(table)
        have = {f.name for f in current.fields}
        added = [f for f in widen_types(batch_schema).fields if f.name not in have]
        if not added:
            return []
        new_schema = T.StructType(
            current.fields + [T.StructField(f.name, f.dataType, True) for f in added]
        )
        _write_json(self.root / table / "_SCHEMA.json", new_schema.jsonValue())
        return [f.name for f in added]

    # -- W1-W4 dispositions: one body, committed to main or a branch -------

    def write(
        self,
        batch: pa.Table | DataFrame,
        table: str,
        disposition: str,
        primary_key: tuple[str, ...] | list[str] = (),
    ) -> WriteReport:
        """Disposition dispatch, the destination entry point
        (salesforce_pipeline.py:62-176), committed to main. ``batch`` is
        a driver-side Arrow table or a DataFrame. The report carries an
        Arrow batch's max cursor when a field's metadata carries
        ``normalize.CURSOR_HINT`` (``read_object(..., load_id=)`` marks
        the replication key)."""
        return self._write(batch, table, disposition, primary_key, None)

    def write_to_branch(
        self,
        batch: pa.Table | DataFrame,
        table: str,
        disposition: str,
        primary_key: tuple[str, ...] | list[str] = (),
        *,
        branch: str,
    ) -> WriteReport:
        """WAP staging write: :meth:`write` committed to a BRANCH head
        instead of main — the write half of write-audit-publish. The
        branch forks at the current main snapshot on first contact;
        merge reads its base from the branch, so multiple staged batches
        compose before one audit + :meth:`fast_forward` publishes them."""
        return self._write(batch, table, disposition, primary_key, branch)

    def append(self, batch: pa.Table | DataFrame, table: str) -> WriteReport:
        """W1 on main: ``write(batch, table, "append")``."""
        return self.write(batch, table, "append")

    def replace(self, batch: pa.Table | DataFrame, table: str) -> WriteReport:
        """W2 on main: ``write(batch, table, "replace")``."""
        return self.write(batch, table, "replace")

    def merge(
        self,
        batch: pa.Table | DataFrame,
        table: str,
        primary_key: tuple[str, ...] | list[str],
    ) -> WriteReport:
        """W3 on main: ``write(batch, table, "merge", primary_key)``."""
        return self.write(batch, table, "merge", primary_key)

    def _write(
        self,
        batch: pa.Table | DataFrame,
        table: str,
        disposition: str,
        primary_key: tuple[str, ...] | list[str],
        ref: str | None,
    ) -> WriteReport:
        """The one disposition body; ``ref`` is None (main) or a branch.

        - W1 append: new snapshot = head + one new data dir
          (:meth:`_append_or_skip`: an empty batch commits nothing).
        - W2 replace: new snapshot = exactly the new data dir, one
          atomic commit (the reference needs two: delete(AlwaysTrue) +
          append). An empty replace commits: it truncates.
        - W3 merge = batch-local delete-then-insert upsert
          (salesforce_pipeline.py:83-130): base rows whose PK appears in
          the batch are deleted (the reference builds an Or-of-And
          PyIceberg expression; here a broadcast anti-join, see
          :meth:`_rewrite`), then the whole batch is inserted. Reference
          quirk preserved: duplicate PKs *within* one batch survive as
          duplicates. A base with no data dirs has nothing to delete,
          so the batch is appended.
        - W4: merge with no PK, or PK columns the table lacks, warns and
          appends on every load, first contact included
          (salesforce_pipeline.py:131-138).

        An Arrow batch that :meth:`_land` keeps on the driver is written
        from the driver: append, replace, first-contact merge and W4
        run no Spark job, and a merge into data runs only its
        copy-on-write rewrite, with the key set deduplicated on the
        driver. Its rows are ``num_rows`` and its cursor
        :func:`_cursor`. A DataFrame (or an Arrow batch :meth:`_land`
        sends to Spark) is written by Spark jobs.
        """
        if disposition not in ("append", "replace", "merge"):
            raise ValueError(f"unknown write disposition: {disposition}")
        if isinstance(batch, pa.Table):
            cursor = _cursor(batch)
            batch = self._land(table, batch)
        else:
            cursor = None
            batch = self._prepare(table, batch)
        arrow = isinstance(batch, pa.Table)
        if ref is not None and ref not in self.branches(table):
            self.create_branch(table, ref)
        pk = list(primary_key)
        columns = batch.column_names if arrow else batch.columns
        fallback = falls_back_to_append(disposition, pk, columns)
        if fallback:
            logger.warning(
                "merge disposition for %s without usable primary key %s: "
                "falling back to append",
                table,
                pk,
            )
        if disposition == "replace":
            name, rows = self._new_data_dir(table, batch)
            self._commit(table, [name], ref)
        elif (
            disposition == "append"
            or fallback
            or not self._current_manifest(table, ref)
        ):
            rows = self._append_or_skip(batch, table, ref)
        else:
            rows = batch.num_rows if arrow else batch.count()
            # An empty batch is a no-op: copy-on-write would rewrite the
            # whole table for an idle cursor poll.
            if rows and arrow:
                # the key set is deduplicated on the driver; both sides
                # enter Spark as LocalRelations
                keys = batch.select(pk).group_by(pk).aggregate([])
                batch = self.spark.createDataFrame(batch)
                self._rewrite(table, ref, self.spark.createDataFrame(keys), batch)
            elif rows:
                self._rewrite(table, ref, batch.select(*pk).distinct(), batch)
        # rows_written = batch rows loaded (the reference's LoadInfo
        # semantics), not the copy-on-write rewrite size.
        return WriteReport(
            table, disposition, rows, fallback_append=fallback, cursor=cursor
        )

    def _append_or_skip(
        self, batch: pa.Table | DataFrame, table: str, ref: str | None
    ) -> int:
        """Commit ``batch`` as one more data dir on the head of ``ref``, or
        nothing at all when it holds no rows: dlt never invokes the
        destination for a zero-item batch, so an idle incremental poll
        must not grow the snapshot chain (at scale, one spurious
        manifest per table per tick). Returns the rows written."""
        name, rows = self._new_data_dir(table, batch)
        if rows == 0:
            shutil.rmtree(self.root / table / name, ignore_errors=True)
        else:
            self._commit(table, self._current_manifest(table, ref) + [name], ref)
        return rows

    def _rewrite(
        self, table: str, ref: str | None, keys: DataFrame, incoming: DataFrame
    ) -> None:
        """Copy-on-write commit on the head of ``ref``: one new data dir
        holding the base minus every row that matches ``keys`` on its
        columns, plus ``incoming``. The anti-join broadcasts the
        batch-sized key set, so the base is scanned once, never
        shuffled. ``with_tombstones``: guard tombstones of untouched
        keys survive the rewrite; those of touched keys fall to the
        anti-join (the documented unguarded-write contract in
        :meth:`merge_cdc`)."""
        base = self.read(table, ref, with_tombstones=True)
        kept = base.join(F.broadcast(keys), keys.columns, "left_anti")
        name, _rows = self._new_data_dir(table, kept.unionByName(incoming))
        self._commit(table, [name], ref)

    def merge_cdc(
        self,
        log: DataFrame,
        table: str,
        key_col: str,
        version_col: str = "version",
        op_col: str = "op",
        guard_stale: bool = False,
    ) -> WriteReport:
        """CDC disposition: apply an I/U/D changelog to the table in ONE
        atomic commit — the upsert-with-deletes the reference's
        delete-then-insert merge (W3) cannot express (it has no delete
        op; rows can only be replaced, never removed). This is the lake
        half of `operators.incremental_agg.apply_changelog` /
        `cdc_apply_changelog`: the changelog compacts to last-writer-
        wins per key first (partial-aggregatable ARGMAX over (version,
        op, payload) structs, no window sort), then

        - keys whose final op is D disappear,
        - every other touched key is replaced by its final payload,
        - untouched base rows are carried (broadcast anti-join on the
          touched-key set — O(log) not O(table) shuffle, the same
          scale argument as :meth:`merge`),

        all visible in a single snapshot (Iceberg ``MERGE INTO ... WHEN
        MATCHED AND op='D' THEN DELETE`` semantics). An empty changelog
        is a no-op (no commit — the idle-poll rule from
        :meth:`append`). ``rows_written`` reports surviving upserts.

        Delivery contract (default, ``guard_stale=False``): versions
        order writers only WITHIN a changelog; ACROSS calls the last
        call wins regardless of version — correct when the upstream
        delivers each key in version order across batches (Kafka /
        Debezium per-key topic ordering), the standard streaming-CDC
        assumption. ``guard_stale=True`` drops that assumption
        entirely: the table retains each key's ``last_version`` (added
        by additive schema evolution, NULL — i.e. 'any version beats
        me' — for rows predating the guard) and an incoming final
        decision only applies when its version is strictly newer.
        Deletes persist as TOMBSTONES — marker rows (``_cdc_deleted``
        True, payload NULL) carrying the delete's version, hidden by
        :meth:`read` — so a stale update arriving AFTER the delete
        that superseded it is recognized and discarded instead of
        resurrecting the key; a delete for a never-seen key also
        tombstones (it may be outrunning its own insert). The final
        table is therefore independent of batch order for ARBITRARY
        changelogs, deletes included (the split-invariance law in
        tests/test_properties.py draws random batch permutations);
        the remaining requirement is unique (key, version) pairs —
        cross-batch version TIES resolve first-arrival-wins (strict
        ``>``), which no guard can order. Stale-only batches commit
        nothing. Tombstones accrete until
        :meth:`compact_tombstones` drops those older than the
        upstream's maximum lateness (Kafka retention reasoning);
        compacting one re-opens the resurrection window for versions
        older than it, which is the inherent retention trade.

        Guarded-state hygiene: ``last_version``/``_cdc_deleted``/
        ``__op``/``__base_v`` are reserved — a changelog whose key or
        payload uses one raises. ``version_col`` must convert to long
        losslessly and NULL-free in guarded mode (a silent NULL would
        mean 'any version beats me' and quietly disable the guard —
        raise instead); integral, numeric-string, whole-decimal, and
        TIMESTAMP versions (ordered as epoch microseconds) all
        qualify. Unguarded merges validate nothing up front, but
        ``apply_changelog``'s inline guard raises at execution time
        on any non-NULL version the cast cannot represent. An UNGUARDED merge_cdc onto a guarded table keeps
        writing ``last_version`` for the keys it touches (so a later
        guarded call still has state) but applies last-call-wins and
        REPLACES tombstones it upserts over — mixing modes on one
        table downgrades touched keys to the unguarded contract.
        """
        payload_cols = [
            c for c in log.columns if c not in (key_col, version_col, op_col)
        ]
        clash = [
            c for c in (key_col, *payload_cols) if c in _CDC_RESERVED
        ]
        if clash:
            raise ValueError(
                f"merge_cdc reserved column name(s) {clash} in changelog "
                f"for {table}: rename them (reserved: {_CDC_RESERVED})"
            )
        if log.isEmpty():
            return WriteReport(table, "merge_cdc", 0)
        table_guarded = self.exists(table) and "last_version" in {
            f.name for f in self.schema(table).fields
        }
        if guard_stale or table_guarded:
            self._check_version_castable(log, version_col, table)
        if guard_stale:
            return self._merge_cdc_guarded(
                log, table, key_col, version_col, op_col, payload_cols
            )
        from ..operators.incremental_agg import apply_changelog

        upserts = apply_changelog(
            log, key_col, version_col, op_col, payload_cols
        )
        if not table_guarded:
            upserts = upserts.drop("last_version")
        if not self.exists(table):
            rows = self._append_or_skip(self._prepare(table, upserts), table, None)
            return WriteReport(table, "merge_cdc", rows)
        n_upserts = upserts.count()
        self._rewrite(
            table, None, log.select(key_col).distinct(), self._prepare(table, upserts)
        )
        return WriteReport(table, "merge_cdc", n_upserts)

    def _check_version_castable(
        self, log: DataFrame, version_col: str, table: str
    ) -> None:
        """Fail loudly when ``version_col`` cannot become a NULL-free,
        value-preserving long: a silent NULL ``last_version`` means
        'any version beats me' (the guard degrades to last-call-wins
        without telling anyone), and a fractional value truncates on
        cast (decimal 9.5 and 9.4 become the same long — false ties
        the strict-``>`` guard then drops as stale). Integral AND
        timestamp column types convert totally (timestamps become
        epoch micros via ``version_to_long`` — the reference's own
        cursor is a SystemModstamp datetime), so they pay only the
        NULL check; anything else (numeric strings, whole-valued
        decimals, doubles) additionally hits the shared
        ``version_unrepresentable`` predicate — non-numeric,
        fractional, and NaN/±Inf values alike (the latter two escape
        a decimal round-trip check alone: non-ANSI cast(NaN as long)
        = 0 and cast(Inf as long) = Long.MAX are non-NULL while the
        decimal cast NULLs, leaving the inequality NULL — ADVICE r9).
        One filter+isEmpty over the batch-sized log. The caller then
        canonicalizes the column to long BEFORE the per-key argmax —
        raw-typed comparison would order strings lexicographically
        ("9" > "10") and hand the win to the older event."""
        from ..operators.incremental_agg import version_unrepresentable

        dtype = dict(log.dtypes)[version_col]
        c = F.col(version_col)
        bad = log.filter(
            c.isNull() | version_unrepresentable(c, dtype)
        )
        if not bad.isEmpty():
            raise ValueError(
                f"guard_stale merge_cdc on {table}: version column "
                f"{version_col!r} (type {dtype}) has values that are "
                "NULL, non-numeric, fractional, or NaN/Inf; a NULL "
                "last_version silently disables the stale guard and a "
                "truncating cast creates false version ties, so this "
                "is an error. Provide a whole-valued NULL-free "
                "numeric, a timestamp column (ordered as epoch "
                "microseconds), or pre-convert (e.g. unix_micros) "
                "yourself."
            )

    def _merge_cdc_guarded(
        self,
        log: DataFrame,
        table: str,
        key_col: str,
        version_col: str,
        op_col: str,
        payload_cols: list[str],
    ) -> WriteReport:
        """The ``guard_stale=True`` body of :meth:`merge_cdc`: per-key
        final decision INCLUDING deletes (the delete's version must
        out-rank the stored row, unlike apply_changelog which drops
        deleted keys before their version is known), stale-filtered
        against the table's persisted ``last_version`` — tombstones
        included, which is what closes the resurrection boundary: a
        stale update probing a deleted key finds the tombstone's
        version and loses. Winning deletes write tombstones (marker
        row, payload NULL) whether or not the key exists — a delete
        for an absent key is guard state too (its insert may still be
        in flight), so the commit is never a no-change rewrite.

        The version column is canonicalized to long BEFORE the argmax
        (``version_to_long``: integral cast, timestamps -> epoch
        micros): comparing the raw type would order numeric strings
        lexicographically ("9" > "10" hands the win to the older
        event) and truncate decimals per-comparison. NULL-free,
        lossless conversion was already enforced by
        :meth:`_check_version_castable`."""
        from ..operators.incremental_agg import version_to_long

        dtype = dict(log.dtypes)[version_col]
        log = log.withColumn(
            version_col, version_to_long(F.col(version_col), dtype)
        )
        m = log.groupBy(key_col).agg(
            F.max(F.struct(version_col, op_col, *payload_cols)).alias("m")
        )
        final = m.select(
            key_col,
            F.col(f"m.{version_col}").alias("last_version"),
            F.col(f"m.{op_col}").alias("__op"),
            *[F.col(f"m.{c}").alias(c) for c in payload_cols],
        )

        def split(dec: DataFrame) -> DataFrame:
            """Decision rows -> storable rows: live upserts + tombstones
            (payload NULLed via the union's missing-column fill)."""
            ups = (
                dec.filter(F.col("__op") != "D")
                .drop("__op")
                .withColumn(TOMBSTONE_COL, F.lit(False))
            )
            tmb = dec.filter(F.col("__op") == "D").select(
                key_col, "last_version", F.lit(True).alias(TOMBSTONE_COL)
            )
            return ups.unionByName(tmb, allowMissingColumns=True)

        if not self.exists(table):
            incoming = split(final)
            n_upserts = incoming.filter(~F.col(TOMBSTONE_COL)).count()
            self._append_or_skip(self._prepare(table, incoming), table, None)
            return WriteReport(table, "merge_cdc", n_upserts)
        base = self.read(table, with_tombstones=True)
        if "last_version" in base.columns:
            # per-key MAX guards against bases holding duplicate keys
            # (mixed appends); partial-aggregatable, key-width rows
            basev = base.groupBy(key_col).agg(
                F.max("last_version").alias("__base_v")
            )
        else:
            # pre-guard rows carry no version: any incoming version wins
            basev = base.select(
                key_col, F.lit(None).cast("long").alias("__base_v")
            ).distinct()
        dec = final.join(basev, key_col, "left").filter(
            F.col("__base_v").isNull()
            | (F.col("last_version") > F.col("__base_v"))
        )
        if dec.isEmpty():  # stale-only batch: no commit
            return WriteReport(table, "merge_cdc", 0)
        incoming = split(dec.drop("__base_v"))
        n_upserts = incoming.filter(~F.col(TOMBSTONE_COL)).count()
        # additive evolution: a previously-unguarded table gains
        # last_version + _cdc_deleted (typed NULLs for older files)
        self.evolve_schema(table, incoming.schema)
        self._rewrite(table, None, dec.select(key_col), self._prepare(table, incoming))
        return WriteReport(table, "merge_cdc", n_upserts)

    def compact_tombstones(
        self, table: str, before_version: int
    ) -> "WriteReport":
        """Retention compaction for guard tombstones: rewrite the
        current snapshot dropping tombstone rows whose ``last_version``
        is < ``before_version``; live rows and newer tombstones are
        untouched (one atomic commit, `compact`-style). No-op (no
        commit) when nothing qualifies.

        Retention contract: a tombstone is the ONLY record that a key
        was deleted at that version, so dropping it re-opens the
        resurrection window for changelog events older than it. Call
        this with the oldest version the upstream can still deliver
        (e.g. the version horizon of the Kafka/Debezium topic's
        retention window) — the same reasoning that sizes any CDC
        consumer's dedup state. ``rows_written`` reports the number of
        tombstones dropped."""
        raw = self.read(table, with_tombstones=True)
        if TOMBSTONE_COL not in raw.columns:
            return WriteReport(table, "compact_tombstones", 0)
        doomed = F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)) & (
            F.col("last_version") < F.lit(before_version)
        )
        n_doomed = raw.filter(doomed).count()
        if n_doomed == 0:
            return WriteReport(table, "compact_tombstones", 0)
        name, _rows = self._new_data_dir(table, raw.filter(~doomed))
        self._commit(table, [name])
        return WriteReport(table, "compact_tombstones", n_doomed)

    # -- lake maintenance (Iceberg rewrite_data_files / expire_snapshots
    #    analogs; the reference has no maintenance story - PyIceberg
    #    single-writer appends accrete files forever, README.md:269-281) --

    def compact(self, table: str, target_files: int = 1) -> "WriteReport":
        """Rewrite the CURRENT snapshot into one fresh data dir with
        ``target_files`` files and commit it as a new snapshot - the
        small-file compaction every append-heavy lake needs (at 100 TB
        the cursor-poll pipeline lands a file per poll per table; scan
        cost follows file count, not byte count, once files are small).
        Logically a no-op: readers before/after see identical rows;
        old snapshots still resolve until `vacuum`. Guard tombstones
        are carried through (they expire via `compact_tombstones`,
        never silently)."""
        df = self.read(table, with_tombstones=True).coalesce(target_files)
        name, rows = self._new_data_dir(table, df)
        self._commit(table, [name])
        return WriteReport(table, "compact", rows)

    def compact_zorder(
        self,
        table: str,
        zorder_cols: list[str],
        num_files: int = 8,
        bits: int = 16,
    ) -> "WriteReport":
        """Compaction + multi-dimensional clustering in one rewrite —
        Iceberg ``rewrite_data_files`` with a z-order sort order /
        Delta ``OPTIMIZE ... ZORDER BY``: the current snapshot is
        rewritten through `operators.layout.zorder_layout` (Morton-key
        range partitioning + local sort), so every output file covers
        a tight hyper-rectangle of ``zorder_cols`` and parquet min/max
        stats prune scans on ANY of those columns. Logically a no-op
        (same rows); one atomic commit. Continuous columns should be
        pre-bucketed (integer domains) per `zorder_key`'s contract."""
        from ..operators.layout import zorder_layout

        df = zorder_layout(
            self.read(table, with_tombstones=True),
            zorder_cols,
            num_files=num_files,
            bits=bits,
        )
        name, rows = self._new_data_dir(table, df)
        self._commit(table, [name])
        return WriteReport(table, "compact", rows)

    def compact_small(
        self, table: str, max_bytes: int = 128 * 1024 * 1024
    ) -> "WriteReport":
        """Size-aware compaction (Iceberg rewrite_data_files binpack
        semantics): rewrite ONLY the data dirs smaller than
        ``max_bytes`` into one merged dir; dirs already at target size
        join the new manifest untouched. `compact` rewrites the whole
        table — O(table) I/O per maintenance tick; this is O(small
        tail), which is what a cursor-poll pipeline (one small file
        per poll) needs nightly. No-op (no commit) when fewer than two
        small dirs exist."""
        tdir = self.root / table
        dirs = self._current_manifest(table)

        def dir_bytes(d: str) -> int:
            return sum(
                f.stat().st_size for f in (tdir / d).rglob("*") if f.is_file()
            )

        small = [d for d in dirs if dir_bytes(d) < max_bytes]
        if len(small) <= 1:
            return WriteReport(table, "compact_small", 0)
        keep = [d for d in dirs if d not in small]
        paths = [str(tdir / d) for d in small]
        df = self.spark.read.schema(self.schema(table)).parquet(*paths).coalesce(1)
        name, rows = self._new_data_dir(table, df)
        self._commit(table, keep + [name])
        return WriteReport(table, "compact_small", rows)

    def vacuum(self, table: str, keep_last: int = 1) -> list[str]:
        """Expire old snapshots: keep the last ``keep_last`` snapshots of
        MAIN's lineage (walking main's parent chain, not a numeric
        version range — versions are allocated globally across
        branches, so a numeric window would retain rejected WAP staging
        manifests while expiring real main history) and the version of
        every ref, delete older manifests and any data dir no kept
        manifest references. Orphaned branch manifests (dropped after a
        failed audit) are reclaimed here. Time travel shortens to the
        kept window; main's head is never touched. Returns the deleted
        data dirs (relative names) for audit logging."""
        tdir = self.root / table
        keep = set(self._main_ancestry(table, limit=keep_last))
        # Every ref — tags and branch HEADS — is a retention root
        # (Iceberg expire_snapshots contract): its manifest and data
        # dirs never expire. (Interior branch lineage may expire — a
        # later fast_forward of a vacuumed-through branch then refuses,
        # the safe failure mode.)
        keep.update(entry["version"] for entry in self._ref_map(table).values())
        referenced: set[str] = set()
        for v in keep:
            if self._manifest_path(table, v).exists():
                referenced.update(self._manifest(table, v)["dirs"])
        deleted = []
        for p in sorted(tdir.glob("data_*")):
            if p.name not in referenced:
                shutil.rmtree(p)
                deleted.append(p.name)
        for m in tdir.glob("_MANIFEST.*.json"):
            v = int(m.name.split(".")[1])
            if v not in keep:
                m.unlink()
        return deleted
