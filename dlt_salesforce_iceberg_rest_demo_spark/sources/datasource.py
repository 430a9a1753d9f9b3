"""Salesforce as a registrable Spark DataSource (Python Data Source API,
Spark 4): ``spark.read.format("salesforce")`` with executor-parallel
partition reads and real filter pushdown.

SURVEY.md §4 calls for exactly this: the reference's hand-built SOQL
pushdown (projection/predicate/sort/limit,
``salesforce/helpers/records.py:70-94``) re-expressed at the DataSource
boundary so Catalyst drives it. ``read_object`` in
``sources.salesforce`` is the driver-side single-cursor read the
pipeline uses; this module is the partition-parallel one:

- ``partitions()`` splits the PK keyspace into lexicographic base-62
  Id ranges - one Bulk-API cursor per executor task (the JDBC-source
  pattern), which is what replaces the reference's single-process
  generator loop at scale.
- ``pushFilters()`` accepts =, <, <=, >, >= on scalar fields and
  compiles them into the generated SOQL WHERE clause - the filter
  runs server-side like the reference's incremental cursor predicate
  (P3); unsupported filters are returned to Spark and applied
  post-scan, so semantics never depend on pushdown.
- Bulk -> Standard API fallback (S1/S2) happens per partition inside
  ``read``, through ``sources.salesforce.fetch_records``.
- ``schema()`` makes the one describe() call of a read; the readers
  take their projection and datetime fields from the schema Spark
  hands them.

The transport is injected through options: ``transport_pickle``
(base64 cloudpickle, used by tests and any picklable custom
transport) or live-org auth options resolved by ``SalesforceAuth``.
"""

from __future__ import annotations

import base64
import datetime as _dt
import math
import pickle
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql import types as T

from .salesforce import (
    DESCRIBE_TYPES,
    SalesforceAuth,
    Transport,
    build_soql,
    fetch_records,
    object_meta,
)

_B62 = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"


def pk_range_bounds(num_partitions: int) -> list[tuple[str | None, str | None]]:
    """Lexicographic split points over the fixed-width base-62 Salesforce
    Id alphabet: ``num_partitions`` half-open ranges covering the keyspace."""
    n = len(_B62)
    step = n / num_partitions
    cuts = sorted(
        {_B62[min(n - 1, math.floor(i * step))] for i in range(1, num_partitions)}
    )
    bounds: list[tuple[str | None, str | None]] = []
    prev: str | None = None
    for c in cuts:
        bounds.append((prev, c))
        prev = c
    bounds.append((prev, None))
    return bounds


def transport_from_options(options: dict) -> Transport:
    """Resolve the transport: test/custom pickle first, else live auth."""
    blob = options.get("transport_pickle")
    if blob:
        return pickle.loads(base64.b64decode(blob))
    auth = SalesforceAuth(
        **{
            k: options[k]
            for k in (
                "username",
                "password",
                "security_token",
                "domain",
                "instance_url",
                "session_id",
                "consumer_key",
                "privatekey_file",
            )
            if options.get(k) is not None
        }
    )
    from .salesforce import SimpleSalesforceTransport

    return SimpleSalesforceTransport(auth)  # pragma: no cover (no live org)


def _soql_literal(v: Any) -> str:
    if isinstance(v, _dt.datetime):
        # SOQL datetime literals are unquoted ISO-8601 (same canonical
        # format the reference normalizes to, records.py:32-45)
        return v.strftime("%Y-%m-%dT%H:%M:%S.%fZ")
    if isinstance(v, _dt.date):
        # after the datetime branch: datetime subclasses date. SOQL date
        # literals are unquoted YYYY-MM-DD.
        return v.isoformat()
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return str(v)
    return "'" + str(v).replace("'", "\\'") + "'"


_OPS = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


class _RangePartition(InputPartition):
    def __init__(self, lo: str | None, hi: str | None) -> None:
        self.lo = lo
        self.hi = hi


def _convert(name: str, v: Any, dtype: T.DataType, api_type: str) -> Any:
    if v is None:
        return None
    if isinstance(dtype, T.TimestampType):
        if api_type == "bulk":  # epoch millis (records.py:34-38)
            return _dt.datetime.fromtimestamp(v / 1000.0, tz=_dt.timezone.utc).replace(
                tzinfo=None
            )
        # ISO with its zone (`Z`, `+0000`, `+01:00`), as UTC; a string
        # without one is refused, not read as local time (as read_object)
        ts = _dt.datetime.fromisoformat(str(v).replace("Z", "+00:00"))
        if ts.tzinfo is None:
            raise ValueError(f"field {name}: unparseable datetime: {v!r} has no zone")
        return ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    if isinstance(dtype, T.DateType):  # "YYYY-MM-DD" in either shape
        return _dt.date.fromisoformat(str(v))
    if isinstance(dtype, T.LongType):
        return int(v)
    if isinstance(dtype, T.DoubleType):
        return float(v)
    if isinstance(dtype, T.BooleanType):
        return bool(v)
    return str(v)


def _rows(schema: T.StructType, records: list[dict], api_type: str) -> list[tuple]:
    """Records as tuples of ``schema``'s fields and types. A list, not a
    generator: Spark pickles a stream batch into its offset cache for
    failure replay."""
    fields = [(f.name, f.dataType) for f in schema.fields]
    return [tuple(_convert(n, r.get(n), t, api_type) for n, t in fields) for r in records]


class SalesforceReader(DataSourceReader):
    def __init__(self, options: dict, schema: T.StructType) -> None:
        self.options = options
        self.out_schema = schema
        self.sobject: str = options["sobject"]
        self.num_partitions = int(options.get("numpartitions", 4))
        self.id_field = options.get("id_field", "Id")
        self.is_production = str(options.get("is_production", "true")).lower() == "true"
        self.pushed: list[str] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Compile supported comparisons into SOQL; hand the rest back."""
        for f in filters:
            op = _OPS.get(type(f))
            if op is not None and len(f.attribute) == 1:
                self.pushed.append(
                    f"{f.attribute[0]} {op} {_soql_literal(f.value)}"
                )
            else:
                yield f

    def partitions(self) -> list[InputPartition]:
        if self.num_partitions <= 1:
            return [_RangePartition(None, None)]
        return [_RangePartition(lo, hi) for lo, hi in pk_range_bounds(self.num_partitions)]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        preds = list(self.pushed)
        if partition.lo is not None:
            preds.append(f"{self.id_field} >= '{partition.lo}'")
        if partition.hi is not None:
            preds.append(f"{self.id_field} < '{partition.hi}'")
        soql = build_soql(
            self.sobject,
            self.out_schema.fieldNames(),
            is_production=self.is_production,
            extra_predicate=" AND ".join(preds) if preds else None,
        )
        records, api_type = fetch_records(
            transport_from_options(self.options), self.sobject, soql
        )
        return iter(_rows(self.out_schema, records, api_type))


class SalesforceDataSource(DataSource):
    """``spark.read.format("salesforce").option("sobject", "Account")``.

    Register once per session:
    ``spark.dataSource.register(SalesforceDataSource)``.
    """

    @classmethod
    def name(cls) -> str:
        return "salesforce"

    def schema(self) -> T.StructType:
        meta = object_meta(transport_from_options(self.options), self.options["sobject"])
        return T.StructType(
            [
                T.StructField(name, DESCRIBE_TYPES.get(meta.types[name], T.StringType()), True)
                for name in meta.fields
            ]
        )

    def reader(self, schema: T.StructType) -> SalesforceReader:
        return SalesforceReader(self.options, schema)

    def simpleStreamReader(self, schema: T.StructType) -> "SalesforceStreamReader":
        return SalesforceStreamReader(self.options, schema)


# ---------------------------------------------------------------------------
# Streaming: cursor-polling incremental as a Structured Streaming source.
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import SimpleDataSourceStreamReader  # noqa: E402

_INITIAL_CURSOR = "2000-01-01T00:00:00.000000Z"  # salesforce/__init__.py:41-47


class SalesforceStreamReader(SimpleDataSourceStreamReader):
    """The reference's batch cursor-polling (dlt ``incremental``,
    ``salesforce/__init__.py:39-47`` + strict ``>`` predicate,
    ``records.py:87-90``) upgraded to a real Structured Streaming
    source: the replication-key watermark IS the stream offset.

    Offsets are ``{"cursor": <ISO-8601>}``; each micro-batch reads
    ``WHERE key > cursor ORDER BY key ASC`` server-side and advances
    the cursor to the max key seen, so Spark's checkpoint replaces the
    reference's ``~/.dlt/pipelines`` state dir (I1/I3) and
    ``readBetweenOffsets`` gives deterministic failure replay - a
    guarantee the reference does not have (a crash between delete and
    append loses the batch).

    SimpleDataSourceStreamReader reads on the driver - matching the
    reference's single-reader extraction model (README.md:271); the
    batch DataSource path covers partition-parallel backfills.
    """

    def __init__(self, options: dict, schema: T.StructType) -> None:
        self.options = options
        self.out_schema = schema
        self.sobject: str = options["sobject"]
        self.replication_key: str = options.get("replication_key", "SystemModstamp")
        self.initial_cursor: str = options.get("initial_cursor", _INITIAL_CURSOR)
        self.is_production = str(options.get("is_production", "true")).lower() == "true"

    def initialOffset(self) -> dict:
        return {"cursor": self.initial_cursor}

    def _fetch(self, extra_predicate: str | None) -> tuple[list[dict], str]:
        soql = build_soql(
            self.sobject,
            self.out_schema.fieldNames(),
            replication_key=self.replication_key,
            is_production=self.is_production,
            extra_predicate=extra_predicate,
        )
        return fetch_records(transport_from_options(self.options), self.sobject, soql)

    def _cursor_of(self, record: dict, api_type: str) -> str:
        v = record.get(self.replication_key)
        if api_type == "bulk":  # epoch millis
            return _dt.datetime.fromtimestamp(v / 1000.0, tz=_dt.timezone.utc).strftime(
                "%Y-%m-%dT%H:%M:%S.%fZ"
            )
        return str(v)

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        records, api_type = self._fetch(
            f"{self.replication_key} > {start['cursor']}"
        )
        if records:
            end = {"cursor": max(self._cursor_of(r, api_type) for r in records)}
        else:
            end = dict(start)
        return _rows(self.out_schema, records, api_type), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        records, api_type = self._fetch(
            f"{self.replication_key} > {start['cursor']}"
            f" AND {self.replication_key} <= {end['cursor']}"
        )
        return _rows(self.out_schema, records, api_type)
