"""Live-wire-shape fixtures for the Salesforce source (S1-S3).

MockTransport interprets engine SOQL against simplified rows; these
tests instead pin the engine against HAND-CRAFTED payloads shaped
exactly like the public Salesforce REST/Bulk API wire format
(sObject describe(), Bulk 1.0 JSON batch results, REST query()
responses - field-dict keys, attributes envelopes, nextRecordsUrl
paging, epoch-millis vs '+0000'-offset datetime forms), so mock
fidelity is anchored to the documented public format rather than to
our own simplification. Shapes follow the public Salesforce API docs;
reference behavior parity: salesforce/helpers/records.py:50-121.
"""

from __future__ import annotations

from dlt_salesforce_iceberg_rest_demo_spark.sources.salesforce import (
    BulkNotEnabledError,
    build_soql,
    object_meta,
    read_object,
)


def _field(name, ftype, soap, *, compound=None, length=0, nameField=False):
    """One describe() field entry with the full public key set."""
    return {
        "aggregatable": True,
        "aiPredictionField": False,
        "autoNumber": False,
        "byteLength": length * 3,
        "calculated": False,
        "calculatedFormula": None,
        "cascadeDelete": False,
        "caseSensitive": False,
        "compoundFieldName": compound,
        "controllerName": None,
        "createable": name != "Id",
        "custom": False,
        "defaultValue": None,
        "defaultedOnCreate": name == "Id",
        "dependentPicklist": False,
        "deprecatedAndHidden": False,
        "digits": 0,
        "displayLocationInDecimal": False,
        "encrypted": False,
        "externalId": False,
        "filterable": True,
        "filteredLookupInfo": None,
        "groupable": ftype != "datetime",
        "highScaleNumber": False,
        "htmlFormatted": False,
        "idLookup": name == "Id",
        "inlineHelpText": None,
        "label": name,
        "length": length,
        "mask": None,
        "maskType": None,
        "name": name,
        "nameField": nameField,
        "namePointing": False,
        "nillable": name != "Id",
        "permissionable": True,
        "picklistValues": [],
        "polymorphicForeignKey": False,
        "precision": 0,
        "queryByDistance": False,
        "queryable": True,
        "referenceTargetField": None,
        "referenceTo": [],
        "relationshipName": None,
        "relationshipOrder": None,
        "restrictedDelete": False,
        "restrictedPicklist": False,
        "scale": 0,
        "searchPrefilterable": False,
        "soapType": soap,
        "sortable": True,
        "type": ftype,
        "unique": False,
        "updateable": name != "Id",
        "writeRequiresMasterRead": False,
    }


# Contact: the canonical compound-field showcase. 'Name' is a compound
# parent whose components (FirstName/LastName) carry
# compoundFieldName='Name'; MailingAddress is a non-Name compound
# parent with MailingStreet/MailingCity components. The reference drops
# compound PARENTS except Name and keeps every component
# (records.py:70-84).
WIRE_DESCRIBE_CONTACT = [
    _field("Id", "id", "tns:ID", length=18),
    _field("Name", "string", "xsd:string", length=121, nameField=True),
    _field("FirstName", "string", "xsd:string", compound="Name", length=40),
    _field("LastName", "string", "xsd:string", compound="Name", length=80),
    _field("MailingAddress", "address", "urn:address"),
    _field("MailingStreet", "textarea", "xsd:string", compound="MailingAddress", length=255),
    _field("MailingCity", "string", "xsd:string", compound="MailingAddress", length=40),
    _field("Email", "email", "xsd:string", length=80),
    _field("CreatedDate", "datetime", "xsd:dateTime"),
    _field("SystemModstamp", "datetime", "xsd:dateTime"),
]

# 2024-01-15T12:34:56.000+0000 == epoch millis 1705322096000
_MILLIS_1 = 1705322096000
_ISO_1 = "2024-01-15T12:34:56.000+0000"
_MILLIS_2 = 1705408496000
_ISO_2 = "2024-01-16T12:34:56.000+0000"

# Bulk 1.0 JSON batch records: plain dicts, epoch-millis datetimes,
# no attributes envelope.
WIRE_BULK_PAGES = [
    [
        {
            "Id": "0035e00000AAAAAAA1",
            "Name": "Ada Lovelace",
            "FirstName": "Ada",
            "LastName": "Lovelace",
            "MailingStreet": "1 Analytical Way",
            "MailingCity": "London",
            "Email": "ada@example.com",
            "CreatedDate": _MILLIS_1,
            "SystemModstamp": _MILLIS_1,
        }
    ],
    [
        {
            "Id": "0035e00000AAAAAAA2",
            "Name": "Grace Hopper",
            "FirstName": "Grace",
            "LastName": "Hopper",
            "MailingStreet": None,
            "MailingCity": "Arlington",
            "Email": None,
            "CreatedDate": _MILLIS_2,
            "SystemModstamp": _MILLIS_2,
        }
    ],
]

# REST query() responses: attributes envelope per record (type + url),
# ISO datetimes with the +0000 offset form Salesforce actually emits,
# done/nextRecordsUrl cursor paging.
WIRE_STANDARD_RESPONSES = [
    {
        "totalSize": 2,
        "done": False,
        "nextRecordsUrl": "/services/data/v59.0/query/01g5e000003XyZ-2000",
        "records": [
            {
                "attributes": {
                    "type": "Contact",
                    "url": "/services/data/v59.0/sobjects/Contact/0035e00000AAAAAAA1",
                },
                "Id": "0035e00000AAAAAAA1",
                "Name": "Ada Lovelace",
                "FirstName": "Ada",
                "LastName": "Lovelace",
                "MailingStreet": "1 Analytical Way",
                "MailingCity": "London",
                "Email": "ada@example.com",
                "CreatedDate": _ISO_1,
                "SystemModstamp": _ISO_1,
            }
        ],
    },
    {
        "totalSize": 2,
        "done": True,
        "records": [
            {
                "attributes": {
                    "type": "Contact",
                    "url": "/services/data/v59.0/sobjects/Contact/0035e00000AAAAAAA2",
                },
                "Id": "0035e00000AAAAAAA2",
                "Name": "Grace Hopper",
                "FirstName": "Grace",
                "LastName": "Hopper",
                "MailingStreet": None,
                "MailingCity": "Arlington",
                "Email": None,
                "CreatedDate": _ISO_2,
                "SystemModstamp": _ISO_2,
            }
        ],
    },
]


class WireShapeTransport:
    """Replays the canned public-wire-format payloads verbatim."""

    def __init__(self, bulk_enabled: bool = True):
        self.bulk_enabled = bulk_enabled
        self.queries_seen: list[str] = []

    def describe(self, sobject):
        assert sobject == "Contact"
        return WIRE_DESCRIBE_CONTACT

    def query_bulk(self, sobject, soql):
        self.queries_seen.append(soql)
        if not self.bulk_enabled:
            raise BulkNotEnabledError(
                "FeatureNotEnabled : Async API not enabled for this organization"
            )
        yield from ([dict(r) for r in page] for page in WIRE_BULK_PAGES)

    def query_standard(self, soql):
        self.queries_seen.append(soql)
        # mirrors SimpleSalesforceTransport.query_standard's cursor loop
        for resp in WIRE_STANDARD_RESPONSES:
            yield [dict(r) for r in resp["records"]]


class TestDescribeWireShape:
    def test_compound_pruning_on_full_payload(self):
        meta = object_meta(WireShapeTransport(), "Contact")
        # parents-of-compounds dropped EXCEPT Name; components kept
        assert "MailingAddress" not in meta.fields
        assert "Name" in meta.fields
        assert "FirstName" in meta.fields and "LastName" in meta.fields
        assert "MailingStreet" in meta.fields and "MailingCity" in meta.fields
        assert meta.date_fields == {"CreatedDate", "SystemModstamp"}

    def test_soql_projection_from_wire_describe(self):
        meta = object_meta(WireShapeTransport(), "Contact")
        soql = build_soql("Contact", meta.fields, "SystemModstamp", None, True)
        assert soql.startswith("SELECT Id, Name, FirstName, LastName, ")
        assert "MailingAddress" not in soql
        assert soql.endswith("FROM Contact ORDER BY SystemModstamp ASC")


class TestReadWirePayloads:
    def test_bulk_wire_read(self, spark):
        t = WireShapeTransport()
        df = spark.createDataFrame(read_object(spark, t, "Contact"))
        rows = {r.Id: r for r in df.collect()}
        assert set(rows) == {"0035e00000AAAAAAA1", "0035e00000AAAAAAA2"}
        # epoch-millis became native UTC timestamps
        ts = rows["0035e00000AAAAAAA1"].SystemModstamp
        assert (ts.year, ts.hour, ts.second) == (2024, 12, 56)
        assert "attributes" not in df.columns
        assert rows["0035e00000AAAAAAA2"].Email is None

    def test_standard_wire_read_equals_bulk(self, spark):
        bulk = spark.createDataFrame(read_object(spark, WireShapeTransport(), "Contact"))
        standard = spark.createDataFrame(
            read_object(spark, WireShapeTransport(bulk_enabled=False), "Contact")
        )
        # identical rows through either API: the reference's
        # normalization contract (records.py:32-45), now pinned against
        # BOTH wire datetime forms (+0000 ISO vs epoch millis) and the
        # attributes-envelope difference
        b = sorted(map(tuple, bulk.collect()))
        s = sorted(map(tuple, standard.collect()))
        assert b == s
        assert bulk.schema == standard.schema

    def test_fallback_happened_after_bulk_attempt(self, spark):
        t = WireShapeTransport(bulk_enabled=False)
        read_object(spark, t, "Contact")
        # one bulk attempt (raised), then the standard cursor ran
        assert len(t.queries_seen) == 2
        assert t.queries_seen[0] == t.queries_seen[1]
