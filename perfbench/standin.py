"""Seeded Salesforce org and an in-process stand-in for its API.

The stand-in implements the engine's ``sources.salesforce.Transport``
protocol (``describe``, ``query_bulk``, ``query_standard``) without
importing any of the package's own transports, so the "server" costs the
same whatever the engine under test does:

- a fixed simulated latency: 20 ms per ``describe`` and per page of
  2,000 records (an empty result still costs one page);
- Bulk shapes: datetimes as epoch millis and an ``attributes`` envelope
  on every record (the Standard API returns ISO strings instead);
- the SOQL the engine emits is honoured: the projection, ``cursor >
  state``, the Id range predicates of the distributed reader, ``ORDER
  BY`` and ``LIMIT``, so pushdown changes what comes back.

:class:`Org` holds the generated records and the state the lake is
expected to hold after every load, so the benchmark can check the
pipeline's output against the source of truth.
"""

from __future__ import annotations

import datetime as dt
import random
import re
import time
from collections.abc import Iterator
from typing import Any

PAGE_SIZE = 2_000
LATENCY_S = 0.020

_ALPHABET = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
# Records are created over 2023; tick k happens k hours after ORG_NOW.
ORG_START_MS = int((dt.datetime(2023, 1, 1, tzinfo=dt.timezone.utc) - _EPOCH).total_seconds() * 1000)
ORG_NOW_MS = int((dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc) - _EPOCH).total_seconds() * 1000)
HOUR_MS = 3_600_000

_WORDS = (
    "alpha beta gamma delta omega cloud data lake stream batch merge sync "
    "north south east west prime global micro macro"
).split()

# sobject -> (Id prefix, records per account, minimum count, fields).
# A field is (name, describe type, generator). Generators: "name", "text",
# "pick:a|b|c", "float:lo:hi", "int:lo:hi", "bool", "date", "ref:<sobject>".
# Ratios follow a CRM-shaped org: ~25 records per account in total.
OBJECTS: dict[str, tuple[str, float, int, list[tuple[str, str, str]]]] = {
    "User": ("005", 0.04, 10, [
        ("Name", "string", "name"), ("Email", "email", "text"),
        ("IsActive", "boolean", "bool"), ("UserRoleId", "reference", "ref:UserRole"),
    ]),
    "UserRole": ("00E", 0.0, 10, [
        ("Name", "string", "name"), ("RollupDescription", "string", "text"),
    ]),
    "Account": ("001", 1.0, 1, [
        ("Name", "string", "name"),
        ("Type", "picklist", "pick:Customer - Direct|Customer - Channel|Prospect|Partner"),
        ("Industry", "picklist", "pick:Technology|Healthcare|Finance|Retail|Energy"),
        ("AnnualRevenue", "currency", "float:1000000:500000000"),
        ("NumberOfEmployees", "int", "int:1:2000"),
        ("Rating", "picklist", "pick:Hot|Warm|Cold"),
        # Compound parent and its parts: the parent must be pruned.
        ("BillingAddress", "address", "text"),
        ("BillingCity", "string", "text"), ("BillingCountry", "string", "text"),
    ]),
    "Contact": ("003", 4.0, 1, [
        ("FirstName", "string", "name"), ("LastName", "string", "name"),
        ("AccountId", "reference", "ref:Account"), ("Email", "email", "text"),
        ("Department", "picklist", "pick:Sales|Marketing|Engineering|Finance"),
        ("Birthdate", "date", "date"),
    ]),
    "Opportunity": ("006", 2.0, 1, [
        ("Name", "string", "name"), ("AccountId", "reference", "ref:Account"),
        ("StageName", "picklist", "pick:Prospecting|Qualification|Proposal|Closed Won|Closed Lost"),
        ("Amount", "currency", "float:50000:5000000"),
        ("Probability", "percent", "float:0:100"), ("CloseDate", "date", "date"),
    ]),
    "OpportunityLineItem": ("00k", 4.0, 1, [
        ("OpportunityId", "reference", "ref:Opportunity"),
        ("PricebookEntryId", "reference", "ref:PricebookEntry"),
        ("Quantity", "double", "float:1:50"), ("UnitPrice", "currency", "float:10:5000"),
    ]),
    "OpportunityContactRole": ("00K", 2.0, 1, [
        ("OpportunityId", "reference", "ref:Opportunity"),
        ("ContactId", "reference", "ref:Contact"),
        ("Role", "picklist", "pick:Decision Maker|Influencer|Evaluator"),
        ("IsPrimary", "boolean", "bool"),
    ]),
    "Lead": ("00Q", 2.0, 1, [
        ("FirstName", "string", "name"), ("LastName", "string", "name"),
        ("Company", "string", "name"),
        ("Status", "picklist", "pick:Open|Working|Qualified|Unqualified"),
        ("AnnualRevenue", "currency", "float:10000:10000000"),
    ]),
    "Campaign": ("701", 0.02, 10, [
        ("Name", "string", "name"), ("Type", "picklist", "pick:Email|Webinar|Event"),
        ("BudgetedCost", "currency", "float:1000:100000"), ("IsActive", "boolean", "bool"),
    ]),
    "CampaignMember": ("00v", 3.0, 1, [
        ("CampaignId", "reference", "ref:Campaign"), ("ContactId", "reference", "ref:Contact"),
        ("Status", "picklist", "pick:Sent|Responded"),
    ]),
    "Product2": ("01t", 0.0, 50, [
        ("Name", "string", "name"), ("ProductCode", "string", "text"),
        ("Family", "picklist", "pick:Hardware|Software|Services"), ("IsActive", "boolean", "bool"),
    ]),
    "Pricebook2": ("01s", 0.0, 3, [
        ("Name", "string", "name"), ("IsStandard", "boolean", "bool"),
    ]),
    "PricebookEntry": ("01u", 0.0, 150, [
        ("Pricebook2Id", "reference", "ref:Pricebook2"), ("Product2Id", "reference", "ref:Product2"),
        ("UnitPrice", "currency", "float:10:5000"), ("IsActive", "boolean", "bool"),
    ]),
    "Task": ("00T", 5.0, 1, [
        ("Subject", "string", "text"), ("WhoId", "reference", "ref:Contact"),
        ("Status", "picklist", "pick:Open|Completed"), ("Priority", "picklist", "pick:High|Normal"),
    ]),
    "Event": ("00U", 2.0, 1, [
        ("Subject", "string", "text"), ("WhoId", "reference", "ref:Contact"),
        ("DurationInMinutes", "int", "int:15:240"),
    ]),
}
# Parents are generated first so references resolve.
_GEN_ORDER = [
    "UserRole", "User", "Account", "Contact", "Opportunity", "Product2", "Pricebook2",
    "PricebookEntry", "OpportunityLineItem", "OpportunityContactRole", "Lead",
    "Campaign", "CampaignMember", "Task", "Event",
]
# Objects that see no changes between loads (the idle incremental poll).
IDLE = frozenset({"OpportunityContactRole", "Event"})
SYSTEM_FIELDS = ("CreatedDate", "LastModifiedDate", "SystemModstamp")


def sf_id(prefix: str, n: int) -> str:
    """18-character Salesforce-style Id: prefix + base-62 sequence number.
    Lexicographic order equals creation order."""
    digits = []
    for _ in range(12):
        n, r = divmod(n, 62)
        digits.append(_ALPHABET[r])
    return prefix + "".join(reversed(digits)) + "AAA"


def millis_to_iso(ms: int) -> str:
    return (_EPOCH + dt.timedelta(milliseconds=ms)).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def iso_to_millis(text: str) -> int:
    text = text.strip().strip("'").rstrip("Z")
    fmt = "%Y-%m-%dT%H:%M:%S.%f" if "." in text else "%Y-%m-%dT%H:%M:%S"
    t = dt.datetime.strptime(text, fmt).replace(tzinfo=dt.timezone.utc)
    return (t - _EPOCH) // dt.timedelta(microseconds=1) // 1000


class Org:
    """A generated Salesforce org: records per sObject plus the history
    needed to state what a correct lake holds after each load."""

    def __init__(self, seed: int, n_accounts: int) -> None:
        self.rng = random.Random(seed)
        self.tick_no = 0
        self.records: dict[str, dict[str, dict[str, Any]]] = {}
        self._seq: dict[str, int] = {}
        # (Id, cursor) of every version served to an append-only table.
        self.history: dict[str, list[tuple[str, int]]] = {}
        for sobject in _GEN_ORDER:
            prefix, ratio, minimum, _ = OBJECTS[sobject]
            n = max(minimum, int(round(ratio * n_accounts)))
            self.records[sobject] = {}
            self._seq[sobject] = 0
            for _ in range(n):
                created = ORG_START_MS + self.rng.randrange(ORG_NOW_MS - ORG_START_MS - HOUR_MS)
                self._insert(sobject, created, created + self.rng.randrange(HOUR_MS))
        for sobject in self.records:
            self.history[sobject] = [(i, r["SystemModstamp"]) for i, r in self.records[sobject].items()]

    # -- generation --------------------------------------------------------

    def _value(self, gen: str) -> Any:
        rng = self.rng
        kind, _, arg = gen.partition(":")
        if kind == "name":
            return f"{rng.choice(_WORDS).title()} {rng.choice(_WORDS).title()} {rng.randrange(10_000)}"
        if kind == "text":
            return " ".join(rng.choice(_WORDS) for _ in range(rng.randrange(1, 6)))
        if kind == "pick":
            return rng.choice(arg.split("|"))
        if kind == "float":
            lo, hi = (float(x) for x in arg.split(":"))
            return round(rng.uniform(lo, hi), 2)
        if kind == "int":
            lo, hi = (int(x) for x in arg.split(":"))
            return rng.randint(lo, hi)
        if kind == "bool":
            return rng.random() < 0.5
        if kind == "date":
            return (dt.date(1960, 1, 1) + dt.timedelta(days=rng.randrange(25_000))).isoformat()
        if kind == "ref":
            parents = self.records[arg]
            return sf_id(OBJECTS[arg][0], rng.randrange(self._seq[arg])) if parents else None
        raise ValueError(gen)

    def _insert(self, sobject: str, created: int, modstamp: int) -> str:
        prefix, _, _, fields = OBJECTS[sobject]
        rid = sf_id(prefix, self._seq[sobject])
        self._seq[sobject] += 1
        rec = {"Id": rid}
        for name, _, gen in fields:
            rec[name] = self._value(gen)
        if "BillingAddress" in rec:
            rec["BillingAddress"] = None  # compound parents carry no value
        rec.update(CreatedDate=created, LastModifiedDate=modstamp, SystemModstamp=modstamp)
        self.records[sobject][rid] = rec
        return rid

    def tick(self) -> None:
        """Advance the org by one hour: ~1% of each active object's rows
        are updated and ~1% new rows are inserted."""
        self.tick_no += 1
        now = ORG_NOW_MS + self.tick_no * HOUR_MS
        for sobject in _GEN_ORDER:
            if sobject in IDLE:
                continue
            recs = self.records[sobject]
            k = max(1, len(recs) // 100)
            ids = self.rng.sample(sorted(recs), k)
            _, _, _, fields = OBJECTS[sobject]
            name, _, gen = fields[-1]
            for j, rid in enumerate(ids):
                rec = recs[rid]
                rec[name] = self._value(gen)
                rec["LastModifiedDate"] = rec["SystemModstamp"] = now + j
                self.history[sobject].append((rid, now + j))
            for j in range(k):
                ms = now + len(ids) + j
                rid = self._insert(sobject, ms, ms)
                self.history[sobject].append((rid, ms))

    def expected_rows(self, sobject: str, append_only: bool) -> list[tuple[str, int]]:
        """(Id, SystemModstamp) pairs a correct lake table holds: every
        served version for append-only tables, the current records for
        replace and merge-on-Id tables."""
        if append_only:
            return list(self.history[sobject])
        return [(i, r["SystemModstamp"]) for i, r in self.records[sobject].items()]

    def max_cursor(self, sobject: str, field: str) -> int:
        return max(r[field] for r in self.records[sobject].values())


class StandInTransport:
    """The Salesforce API as the engine sees it, served from an :class:`Org`."""

    def __init__(self, org: Org) -> None:
        self.org = org
        self.soql_queries = 0
        self.records_served = 0

    def describe(self, sobject: str) -> list[dict[str, Any]]:
        time.sleep(LATENCY_S)
        _, _, _, fields = OBJECTS[sobject]
        compound = {"BillingCity": "BillingAddress", "BillingCountry": "BillingAddress"}
        out = [{"name": "Id", "type": "id", "compoundFieldName": None}]
        out += [{"name": n, "type": t, "compoundFieldName": compound.get(n)} for n, t, _ in fields]
        out += [{"name": n, "type": "datetime", "compoundFieldName": None} for n in SYSTEM_FIELDS]
        return out

    def _run_soql(self, soql: str) -> tuple[str, list[str], list[dict[str, Any]]]:
        m = re.fullmatch(
            r"SELECT (?P<fields>.+?) FROM (?P<obj>\w+)"
            r"(?: WHERE (?P<where>.+?))?"
            r"(?: ORDER BY (?P<okey>\w+) ASC)?"
            r"(?: LIMIT (?P<limit>\d+))?",
            soql.strip(),
        )
        if not m:
            raise ValueError(f"stand-in cannot parse SOQL: {soql}")
        self.soql_queries += 1
        sobject = m.group("obj")
        fields = [f.strip() for f in m.group("fields").split(",")]
        rows = list(self.org.records[sobject].values())
        for cond in (m.group("where") or "").split(" AND ") if m.group("where") else []:
            cm = re.fullmatch(r"(\w+)\s*(>=|<=|>|<|=)\s*(.+)", cond.strip())
            if not cm:
                raise ValueError(f"stand-in cannot parse predicate: {cond}")
            key, op, raw = cm.groups()
            val: Any = iso_to_millis(raw) if key in SYSTEM_FIELDS else raw.strip().strip("'")
            cmp = {
                ">": lambda a, b: a > b, ">=": lambda a, b: a >= b,
                "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
                "=": lambda a, b: a == b,
            }[op]
            rows = [r for r in rows if r.get(key) is not None and cmp(r[key], val)]
        if m.group("okey"):
            okey = m.group("okey")
            rows.sort(key=lambda r: (r[okey], r["Id"]))
        if m.group("limit"):
            rows = rows[: int(m.group("limit"))]
        return sobject, fields, rows

    def _pages(self, sobject: str, fields: list[str], rows: list[dict[str, Any]], bulk: bool):
        self.records_served += len(rows)
        envelope_type = {"type": sobject}
        for start in range(0, max(1, len(rows)), PAGE_SIZE):
            time.sleep(LATENCY_S)
            page = []
            for r in rows[start : start + PAGE_SIZE]:
                out = {"attributes": envelope_type}
                for f in fields:
                    v = r.get(f)
                    if f in SYSTEM_FIELDS and v is not None and not bulk:
                        v = millis_to_iso(v)
                    out[f] = v
                page.append(out)
            yield page

    def query_bulk(self, sobject: str, soql: str) -> Iterator[list[dict[str, Any]]]:
        obj, fields, rows = self._run_soql(soql)
        if obj != sobject:
            raise ValueError(f"bulk job for {sobject} got SOQL for {obj}")
        yield from self._pages(sobject, fields, rows, bulk=True)

    def query_standard(self, soql: str) -> Iterator[list[dict[str, Any]]]:
        sobject, fields, rows = self._run_soql(soql)
        yield from self._pages(sobject, fields, rows, bulk=False)

