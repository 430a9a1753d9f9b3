"""Salesforce source, Spark-first.

Reference behavior reproduced (citations into /root/reference):

- S1 Bulk API scan + S2 Standard-API fallback + S3 describe() metadata:
  salesforce/helpers/records.py:50-121.
- P1 projection from describe(), P2 compound-field pruning (keep Name),
  P3 incremental predicate `cursor > state`, P4 `ORDER BY cursor ASC`,
  P5 test-mode `LIMIT 100`: records.py:70-94.
- P6 `attributes` envelope strip + T1/T2 datetime normalization:
  records.py:15-47 (a per-row Python loop there; one Arrow cast per
  column here).
- Auth surface: 6 credential shapes resolved into one client config,
  salesforce/helpers/client.py:38-214.

Architecture differences (Spark-first, not a port):

- Transport is an injectable protocol; production wires simple_salesforce
  (behind an import-try: not installed in this environment), tests use
  :class:`MockTransport`. The engine logic is identical either way.
- Each extracted batch lands on the driver once, as one Arrow table:
  datetime and date fields are cast by Arrow (no
  `%Y-%m-%dT%H:%M:%S.%fZ` string round-trip), and the pipeline's batch
  arrives with dlt's normalize already applied
  (``read_object(..., load_id=)``). The lake writes it from the driver
  (``sinks.dispositions``) as the reference's destination writes its
  Arrow batches; a caller that wants a DataFrame lands it with
  ``spark.createDataFrame(batch)``, a `LocalRelation` that no Python
  worker ever executes.
- Every reader pages through :func:`fetch_records`, the one Bulk scan
  with Standard fallback. At scale the single-generator extraction (the
  reference is one Python process pulling all pages) becomes the
  registrable Data Source in :mod:`.datasource`:
  ``spark.read.format("salesforce")`` splits the PK domain into Id
  ranges, one executor task and one Bulk API cursor per range.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field
from typing import Any, Protocol

import pyarrow as pa
from pyspark.errors import PySparkTypeError, PySparkValueError
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ..normalize import CURSOR_HINT, snake_case

# ---------------------------------------------------------------------------
# Auth configuration (client.py:38-129). Pure config resolution - the
# actual HTTP client is constructed by the transport factory.
# ---------------------------------------------------------------------------


@dataclass
class SalesforceAuth:
    """Union of the reference's 6 credential shapes (client.py:38-129).

    Exactly one combination must be satisfied; ``mode()`` resolves which,
    with the same required-field rules as the reference's configspecs.
    """

    user_name: str | None = None
    password: str | None = None
    security_token: str | None = None
    organization_id: str | None = None
    consumer_key: str | None = None
    consumer_secret: str | None = None
    domain: str | None = None
    privatekey: str | None = None
    privatekey_file: str | None = None
    session_id: str | None = None
    instance: str | None = None
    instance_url: str | None = None
    version: str | None = None

    def mode(self) -> str:
        if self.session_id:
            if not (self.instance or self.instance_url):
                raise ValueError(
                    "InstanceAuth requires either 'instance' or 'instance_url'"
                )
            return "instance"
        if self.user_name and self.consumer_key and (self.privatekey or self.privatekey_file):
            return "jwt"
        if self.consumer_key and self.consumer_secret and self.domain and not self.user_name:
            return "client_credentials"
        if self.user_name and self.consumer_key and self.consumer_secret:
            return "consumer_key_secret"
        if self.user_name and self.password and self.security_token:
            return "security_token"
        if self.user_name and self.password and self.organization_id:
            return "organization_id"
        raise ValueError("no complete Salesforce credential combination provided")

    def client_kwargs(self) -> dict[str, Any]:
        """kwargs for simple_salesforce.Salesforce, per mode
        (client.py:132-214)."""
        mode = self.mode()
        common: dict[str, Any] = {}
        if self.version:
            common["version"] = self.version
        if self.domain and mode != "client_credentials":
            common["domain"] = self.domain
        if mode == "security_token":
            return common | {
                "username": self.user_name,
                "password": self.password,
                "security_token": self.security_token,
            }
        if mode == "organization_id":
            return common | {
                "username": self.user_name,
                "password": self.password,
                "organizationId": self.organization_id,
            }
        if mode == "consumer_key_secret":
            return common | {
                "username": self.user_name,
                "password": self.password,
                "consumer_key": self.consumer_key,
                "consumer_secret": self.consumer_secret,
            }
        if mode == "jwt":
            kw = common | {
                "username": self.user_name,
                "consumer_key": self.consumer_key,
            }
            if self.privatekey:
                kw["privatekey"] = self.privatekey
            else:
                kw["privatekey_file"] = self.privatekey_file
            if self.instance_url:
                kw["instance_url"] = self.instance_url
            return kw
        if mode == "client_credentials":
            return common | {
                "consumer_key": self.consumer_key,
                "consumer_secret": self.consumer_secret,
                "domain": self.domain,
            }
        # instance
        kw = common | {"session_id": self.session_id}
        if self.instance:
            kw["instance"] = self.instance
        else:
            kw["instance_url"] = self.instance_url
        return kw


# ---------------------------------------------------------------------------
# Transport protocol + implementations.
# ---------------------------------------------------------------------------


class BulkNotEnabledError(Exception):
    """Mirror of the reference's fallback trigger: SalesforceMalformedRequest
    with 'FeatureNotEnabled ... Async API not enabled' (records.py:104-106)."""


class Transport(Protocol):
    """Minimal surface the engine needs from a Salesforce connection."""

    def describe(self, sobject: str) -> list[dict[str, Any]]:
        """Field metadata: [{name, type, compoundFieldName}, ...]."""
        ...

    def query_bulk(self, sobject: str, soql: str) -> Iterator[list[dict[str, Any]]]:
        """Bulk (async) API: lazily yields pages of records.
        Raises BulkNotEnabledError when the org has no Bulk API."""
        ...

    def query_standard(self, soql: str) -> Iterator[list[dict[str, Any]]]:
        """Standard REST API: `query` + `query_more` cursor loop pages."""
        ...


class SimpleSalesforceTransport:
    """Production transport over simple_salesforce (import-gated: the
    package is not in this environment; the engine is exercised through
    MockTransport which honors the same protocol)."""

    def __init__(self, auth: SalesforceAuth, page_size: int = 10_000) -> None:
        try:
            from simple_salesforce import Salesforce  # type: ignore
        except ImportError as e:  # pragma: no cover
            raise ImportError(
                "simple_salesforce is required for live Salesforce access"
            ) from e
        self._sf = Salesforce(**auth.client_kwargs())  # pragma: no cover
        self.page_size = page_size  # pragma: no cover

    def describe(self, sobject: str) -> list[dict[str, Any]]:  # pragma: no cover
        return getattr(self._sf, sobject).describe()["fields"]

    def query_bulk(self, sobject, soql):  # pragma: no cover
        from simple_salesforce.exceptions import SalesforceMalformedRequest  # type: ignore

        try:
            yield from getattr(self._sf.bulk, sobject).query_all(
                soql, lazy_operation=True
            )
        except SalesforceMalformedRequest as e:
            if "FeatureNotEnabled" in str(e) and "Async API not enabled" in str(e):
                raise BulkNotEnabledError(str(e)) from e
            raise

    def query_standard(self, soql):  # pragma: no cover
        result = self._sf.query(soql)
        while True:
            yield [dict(r) for r in result["records"]]
            if result["done"]:
                break
            result = self._sf.query_more(result["nextRecordsUrl"], True)


@dataclass
class MockTransport:
    """Canned-describe + canned-rows transport for tests.

    ``data[sobject]`` rows are full records; SOQL built by the engine is
    interpreted faithfully for the clauses the engine generates
    (SELECT list, WHERE cursor >, ORDER BY, LIMIT) so pushdown really
    changes what the 'server' returns - the same contract a live org
    honors.
    """

    describes: dict[str, list[dict[str, Any]]]
    data: dict[str, list[dict[str, Any]]]
    bulk_enabled: bool = True
    page_size: int = 200
    # Bulk API returns datetimes as epoch millis; standard as ISO strings
    # (records.py:34-45). The mock reproduces that duality from ISO rows.
    queries_seen: list[str] = field(default_factory=list)

    def describe(self, sobject: str) -> list[dict[str, Any]]:
        return self.describes[sobject]

    def _run_soql(self, sobject: str, soql: str) -> list[dict[str, Any]]:
        self.queries_seen.append(soql)
        import re

        m = re.match(
            r"SELECT (?P<fields>.+?) FROM (?P<obj>\w+)\s*"
            r"(WHERE (?P<where>.+?))?\s*"
            r"(ORDER BY (?P<okey>\w+) ASC)?\s*"
            r"(LIMIT (?P<limit>\d+))?\s*$",
            soql,
        )
        if not m or m.group("obj") != sobject:
            raise ValueError(f"mock transport cannot parse SOQL: {soql}")
        fields = [f.strip() for f in m.group("fields").split(",")]
        rows = [dict(r) for r in self.data[sobject]]
        if m.group("where"):
            for cond in m.group("where").split(" AND "):
                cm = re.match(r"(\w+)\s*(>=|<=|>|<|=)\s*(.+)", cond.strip())
                if not cm:
                    raise ValueError(f"mock transport cannot parse predicate: {cond}")
                key, op, val = cm.groups()
                val = val.strip().strip("'")
                ops = {
                    ">": lambda a, b: a > b,
                    ">=": lambda a, b: a >= b,
                    "<": lambda a, b: a < b,
                    "<=": lambda a, b: a <= b,
                    "=": lambda a, b: a == b,
                }[op]
                rows = [
                    r
                    for r in rows
                    if r.get(key) is not None and ops(str(r[key]), val)
                ]
        if m.group("okey"):
            rows.sort(key=lambda r: str(r.get(m.group("okey"), "")))
        if m.group("limit"):
            rows = rows[: int(m.group("limit"))]
        return [{f: r.get(f) for f in fields} for r in rows]

    def _date_fields(self, sobject: str) -> set[str]:
        return {f["name"] for f in self.describes[sobject] if f["type"] == "datetime"}

    def query_bulk(self, sobject: str, soql: str) -> Iterator[list[dict[str, Any]]]:
        if not self.bulk_enabled:
            raise BulkNotEnabledError(
                "FeatureNotEnabled: Async API not enabled for this organization"
            )
        rows = self._run_soql(sobject, soql)
        date_fields = self._date_fields(sobject)
        out = []
        for r in rows:
            r = dict(r)
            r["attributes"] = {"type": sobject}  # envelope the engine must strip
            for f in date_fields:
                if r.get(f) is not None:
                    import datetime as _dt

                    dt = _dt.datetime.fromisoformat(str(r[f]).replace("Z", "+00:00"))
                    r[f] = int(dt.timestamp() * 1000)  # epoch millis (bulk shape)
            out.append(r)
        for i in range(0, len(out), self.page_size):
            yield out[i : i + self.page_size]

    def query_standard(self, soql: str) -> Iterator[list[dict[str, Any]]]:
        import re

        sobject = re.search(r"FROM (\w+)", soql).group(1)
        rows = self._run_soql(sobject, soql)
        for i in range(0, len(rows), self.page_size):
            page = []
            for r in rows[i : i + self.page_size]:
                r = dict(r)
                r["attributes"] = {"type": sobject}
                page.append(r)
            yield page


# ---------------------------------------------------------------------------
# SOQL generation: P1-P5 (records.py:70-94), verbatim semantics.
# ---------------------------------------------------------------------------


@dataclass
class ObjectMeta:
    fields: list[str]
    date_fields: set[str]
    types: dict[str, str] = field(default_factory=dict)  # describe type per field


def object_meta(transport: Transport, sobject: str) -> ObjectMeta:
    """S3 describe() scan -> projection list + datetime set + describe
    types, from one describe() call.

    Compound fields are pruned, keeping 'Name' (records.py:70-84): the
    compound parents (e.g. BillingAddress) never appear in the SELECT.
    """
    desc = transport.describe(sobject)
    compound = {
        f["compoundFieldName"] for f in desc if f.get("compoundFieldName") is not None
    } - {"Name"}
    types = {f["name"]: f["type"] for f in desc if f["name"] not in compound}
    date_fields = {name for name, t in types.items() if t == "datetime"}
    return ObjectMeta(fields=list(types), date_fields=date_fields, types=types)


def build_soql(
    sobject: str,
    fields: list[str],
    replication_key: str | None = None,
    last_state: str | None = None,
    is_production: bool = True,
    extra_predicate: str | None = None,
) -> str:
    """The reference's query text generator (records.py:86-94):
    `SELECT <fields> FROM <obj> [WHERE key > state] [ORDER BY key ASC]
    [LIMIT 100]` - the LIMIT only in test mode (settings.py:4).
    ``extra_predicate`` carries the Data Source's pushed filters and PK
    range splits."""
    predicate, order_by = "", ""
    clauses = []
    if replication_key and last_state:
        clauses.append(f"{replication_key} > {last_state}")
    if extra_predicate:
        clauses.append(extra_predicate)
    if clauses:
        predicate = "WHERE " + " AND ".join(clauses)
    if replication_key:
        order_by = f"ORDER BY {replication_key} ASC"
    query = f"SELECT {', '.join(fields)} FROM {sobject} {predicate} {order_by}"
    if not is_production:
        query += " LIMIT 100"
    return " ".join(query.split())


# ---------------------------------------------------------------------------
# Record post-processing (P6 + T1/T2), vectorized.
# ---------------------------------------------------------------------------


def _records_to_table(
    records: Iterable[dict[str, Any]],
    meta: ObjectMeta,
    api_type: str,
    load_id: str | None = None,
    cursor: str | None = None,
) -> pa.Table:
    """Dict rows -> one Arrow table, on the driver. Its Arrow types map
    one to one onto the Spark types (``spark.createDataFrame(table)``
    gives long, double, boolean, string, timestamp and date columns).

    The reference's `_process_record` (records.py:15-47) strips the
    `attributes` envelope and string-formats datetimes per row in Python.
    Here: envelope keys simply never enter the projection, and each
    projected field becomes one Arrow column (typed by :func:`_landed`,
    datetimes and dates by an Arrow cast of their wire form).

    With ``load_id`` the batch is built in its lake form, dlt's normalize
    stage done here (SURVEY §3.1 steps 3-4): names in :func:`snake_case`,
    the ``cursor`` field (an API name) marked with :data:`CURSOR_HINT`
    in its Arrow field metadata, and the lineage columns `_dlt_load_id`
    (``load_id``) and `_dlt_id` (:func:`_row_ids`) appended. Without it
    the batch keeps the API names.
    """
    records = list(records)
    fields, arrays = [], []
    for f in meta.fields:
        array = _landed(f, [r.get(f) for r in records], meta, api_type)
        name, metadata = f, None
        if load_id is not None:
            name = snake_case(f)
            metadata = {CURSOR_HINT: "true"} if f == cursor else None
        fields.append(pa.field(name, array.type, True, metadata))
        arrays.append(array)
    if load_id is not None:
        fields += [pa.field("_dlt_load_id", pa.string()), pa.field("_dlt_id", pa.string())]
        arrays += [pa.repeat(load_id, len(records)), _row_ids(len(records))]
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


def _row_ids(n: int) -> pa.Array:
    """dlt's `_dlt_id`: a random id per row, 128 bits as 32 hex digits.
    Drawn once, when the batch lands, so every execution of the batch's
    plan (a merge runs it more than once) sees the same ids."""
    raw = os.urandom(16 * n).hex()
    return pa.array([raw[i : i + 32] for i in range(0, 32 * n, 32)], pa.string())


_TIMESTAMP = pa.timestamp("us", tz="UTC")


def _landed(
    name: str, values: list[Any], meta: ObjectMeta, api_type: str
) -> pa.Array:
    """One field's Arrow column. A datetime field's wire
    value is cast by Arrow: bulk epoch millis (checked to be ints by
    :func:`_column`) or a standard ISO string with its zone (`Z` or
    `+0000`; a string without one is refused, not read as local time).
    A `date` field is an ISO `YYYY-MM-DD` string in either shape. A bad
    wire value raises naming the field, never a NULL. Any other field
    is typed by its values (:func:`_column`), or by its describe type
    (:data:`DESCRIBE_TYPES`) when the batch has no value for it."""
    if name in meta.date_fields and api_type == "bulk":
        _, millis = _column(name, values, int)
        wire = pa.array(millis, pa.int64()).cast(pa.timestamp("ms", tz="UTC"))
        return _cast(name, wire, _TIMESTAMP, "datetime")
    if name in meta.date_fields:
        wire = pa.array(_column(name, values, str)[1], pa.string())
        return _cast(name, wire, _TIMESTAMP, "datetime")
    if meta.types.get(name) == "date":
        wire = pa.array(_column(name, values, str)[1], pa.string())
        return _cast(name, wire, pa.date32(), "date")
    if all(v is None for v in values):
        # an empty first poll must not freeze a numeric field as string
        dtype = DESCRIBE_TYPES.get(meta.types.get(name), T.StringType())
        return pa.nulls(len(values), to_arrow_type(dtype))
    dtype, values = _column(name, values)
    return pa.array(values, to_arrow_type(dtype))


def _cast(name: str, array: pa.Array, to: pa.DataType, what: str) -> pa.Array:
    try:
        return array.cast(to)
    except pa.ArrowInvalid as e:
        raise PySparkValueError(message=f"field {name}: unparseable {what}: {e}") from None


# describe() type -> Spark type (reference lattice, SURVEY §1.2: ints
# widen to long, floats to double, everything unknown to string). The
# Data Source types every field by it; `read_object` types a field by
# it when the batch has no value to type it by.
DESCRIBE_TYPES: dict[str, T.DataType] = {
    "datetime": T.TimestampType(),
    "date": T.DateType(),
    "int": T.LongType(),
    "long": T.LongType(),
    "double": T.DoubleType(),
    "currency": T.DoubleType(),
    "percent": T.DoubleType(),
    "boolean": T.BooleanType(),
}

# Python type of a column's values -> Spark type, the reference's
# widened lattice (SURVEY §1.2, iceberg/schema.py:37-40). Columns of any
# other type land as strings.
_SCALAR_TYPES = {bool: T.BooleanType(), int: T.LongType(), float: T.DoubleType()}


def _column(
    name: str, values: list[Any], kind: type | None = None
) -> tuple[T.DataType, list[Any]]:
    """One field's Spark type and Arrow-ready values. The first non-null
    value's type picks bool/int/float, and every other non-null value
    must have exactly that type, else the column raises PySpark's
    `FIELD_DATA_TYPE_UNACCEPTABLE_WITH_NAME`. A column led by any other
    type, or all null, is string: each value rendered by ``str``, bools
    lower-cased (:func:`_landed` types an all-null field by its describe
    type before it gets here). ``kind`` pins the type instead (the
    datetime and date wire shapes). These are the verdicts PySpark's row path gives the same
    first-value schema. The check happens here because pyarrow would
    cast: ``[1, 2.5]`` in an int64 array silently becomes ``[1, 2]``."""
    if kind is None:
        kind = next((type(v) for v in values if v is not None), str)
    if kind not in _SCALAR_TYPES:
        return T.StringType(), [
            None if v is None else str(v).lower() if isinstance(v, bool) else str(v)
            for v in values
        ]
    dtype = _SCALAR_TYPES[kind]
    for v in values:
        if v is not None and type(v) is not kind:
            raise PySparkTypeError(
                errorClass="FIELD_DATA_TYPE_UNACCEPTABLE_WITH_NAME",
                messageParameters={
                    "field_name": f"field {name}",
                    "data_type": str(dtype),
                    "obj": repr(v),
                    "obj_type": str(type(v)),
                },
            )
    return dtype, values


# ---------------------------------------------------------------------------
# Extraction: the one fetch loop, and the single-cursor read.
# ---------------------------------------------------------------------------


def fetch_records(
    transport: Transport, sobject: str, soql: str
) -> tuple[list[dict[str, Any]], str]:
    """S1/S2: every page of ``soql`` through the Bulk API, or through the
    Standard API when the org has no Bulk API (records.py:96-121); Bulk
    pages already received are dropped. Returns the records and their
    wire shape, ``"bulk"`` (datetimes as epoch millis) or ``"standard"``
    (ISO strings)."""
    try:
        return [r for page in transport.query_bulk(sobject, soql) for r in page], "bulk"
    except BulkNotEnabledError:
        return [r for page in transport.query_standard(soql) for r in page], "standard"


def read_object(
    spark: SparkSession,
    transport: Transport,
    sobject: str,
    last_state: str | None = None,
    replication_key: str | None = None,
    is_production: bool = True,
    load_id: str | None = None,
) -> pa.Table:
    """S1/S2: full read of one sObject through the Bulk API with Standard
    API fallback - the reference's `get_records` re-expressed
    (records.py:50-121). Driver-side paging like the reference; the
    batch lands on the driver as one Arrow table with native timestamps
    and dates, the form the reference's destination writes
    (``i_table.append(pa_table)``, salesforce_pipeline.py:176). It enters
    Spark only where a caller asks for it: ``spark.createDataFrame(batch)``
    is a `LocalRelation` (a JVM-side RDD of Arrow batches above
    `spark.sql.execution.arrow.localRelationThreshold`) and runs no
    Python task. ``spark`` is the session the caller writes with; the
    read itself runs nothing in it.
    With ``load_id`` the batch lands normalized for the lake (snake_case
    names, lineage columns, the ``replication_key`` column marked as the
    cursor; see :func:`_records_to_table`)."""
    meta = object_meta(transport, sobject)
    soql = build_soql(
        sobject, meta.fields, replication_key, last_state, is_production
    )
    records, api_type = fetch_records(transport, sobject, soql)
    return _records_to_table(records, meta, api_type, load_id, replication_key)
