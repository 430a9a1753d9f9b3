"""Shared mock Salesforce org for source/pipeline tests - shaped like the
reference's Snowfakery fixtures (FIXTURES.md §A: Account/Contact with
compound fields, system datetime fields, FK AccountId)."""

from __future__ import annotations

import base64
import pickle

from dlt_salesforce_iceberg_rest_demo_spark.sources.salesforce import MockTransport


def f(name, ftype="string", compound=None):
    return {"name": name, "type": ftype, "compoundFieldName": compound}


ACCOUNT_DESCRIBE = [
    f("Id", "id"),
    f("Name"),  # compoundFieldName == 'Name' on person accounts; kept
    f("Industry", "picklist"),
    f("AnnualRevenue", "currency"),
    f("NumberOfEmployees", "int"),
    # Compound address field + its components: parent must be pruned.
    f("BillingAddress", "address", compound=None),
    f("BillingCity", compound="BillingAddress"),
    f("BillingCountry", compound="BillingAddress"),
    f("CreatedDate", "datetime"),
    f("LastModifiedDate", "datetime"),
    f("SystemModstamp", "datetime"),
]
# BillingAddress is itself the compound parent referenced by its children;
# salesforce marks children with compoundFieldName=BillingAddress, and the
# parent is what gets dropped from the field list (records.py:70-84).

CONTACT_DESCRIBE = [
    f("Id", "id"),
    f("FirstName"),
    f("LastName"),
    f("AccountId", "reference"),
    f("Email", "email"),
    f("CreatedDate", "datetime"),
    f("LastModifiedDate", "datetime"),
    f("SystemModstamp", "datetime"),
]

TASK_DESCRIBE = [
    f("Id", "id"),
    f("Subject"),
    f("SystemModstamp", "datetime"),
]

OPPORTUNITY_CONTACT_ROLE_DESCRIBE = [
    f("Id", "id"),
    f("ContactId", "reference"),
    f("Role", "picklist"),
    f("SystemModstamp", "datetime"),
]


def ts(day: int, hour: int = 0) -> str:
    return f"2024-01-{day:02d}T{hour:02d}:00:00.000000Z"


ACCOUNTS_V1 = [
    {
        "Id": "001A",
        "Name": "Acme",
        "Industry": "Technology",
        "AnnualRevenue": 1_000_000.0,
        "NumberOfEmployees": 50,
        "BillingAddress": None,
        "BillingCity": "Berlin",
        "BillingCountry": "DE",
        "CreatedDate": ts(1),
        "LastModifiedDate": ts(2),
        "SystemModstamp": ts(2),
    },
    {
        "Id": "001B",
        "Name": "Globex",
        "Industry": "Finance",
        "AnnualRevenue": 5_000_000.0,
        "NumberOfEmployees": 200,
        "BillingAddress": None,
        "BillingCity": "Paris",
        "BillingCountry": "FR",
        "CreatedDate": ts(1),
        "LastModifiedDate": ts(3),
        "SystemModstamp": ts(3),
    },
]

# v2: 001B updated (new revenue, later cursor), 001C inserted.
ACCOUNTS_V2 = [
    ACCOUNTS_V1[0],
    {**ACCOUNTS_V1[1], "AnnualRevenue": 7_500_000.0, "LastModifiedDate": ts(10), "SystemModstamp": ts(10)},
    {
        "Id": "001C",
        "Name": "Initech",
        "Industry": "Technology",
        "AnnualRevenue": 250_000.0,
        "NumberOfEmployees": 10,
        "BillingAddress": None,
        "BillingCity": "Austin",
        "BillingCountry": "US",
        "CreatedDate": ts(9),
        "LastModifiedDate": ts(9),
        "SystemModstamp": ts(9),
    },
]

CONTACTS_V1 = [
    {
        "Id": "003A",
        "FirstName": "Ada",
        "LastName": "Lovelace",
        "AccountId": "001A",
        "Email": "ada@acme.test",
        "CreatedDate": ts(1),
        "LastModifiedDate": ts(1),
        "SystemModstamp": ts(1),
    },
    {
        "Id": "003B",
        "FirstName": "Grace",
        "LastName": "Hopper",
        "AccountId": "001B",
        "Email": "grace@globex.test",
        "CreatedDate": ts(2),
        "LastModifiedDate": ts(2),
        "SystemModstamp": ts(2),
    },
]

CONTACTS_V2 = [CONTACTS_V1[1]]  # full snapshot shrank: replace must drop 003A

TASKS_V1 = [
    {"Id": "00TA", "Subject": "call", "SystemModstamp": ts(4)},
    {"Id": "00TB", "Subject": "email", "SystemModstamp": ts(5)},
]

# Unchanged in v2, like TASKS_V1: the idle incremental polls.
OPPORTUNITY_CONTACT_ROLES_V1 = [
    {"Id": "00KA", "ContactId": "003A", "Role": "Decision Maker", "SystemModstamp": ts(2)},
]


def make_transport(version: int = 1, bulk_enabled: bool = True) -> MockTransport:
    return MockTransport(
        describes={
            "Account": ACCOUNT_DESCRIBE,
            "Contact": CONTACT_DESCRIBE,
            "Task": TASK_DESCRIBE,
            "OpportunityContactRole": OPPORTUNITY_CONTACT_ROLE_DESCRIBE,
        },
        data={
            "Account": ACCOUNTS_V1 if version == 1 else ACCOUNTS_V2,
            "Contact": CONTACTS_V1 if version == 1 else CONTACTS_V2,
            "Task": TASKS_V1,
            "OpportunityContactRole": OPPORTUNITY_CONTACT_ROLES_V1,
        },
        bulk_enabled=bulk_enabled,
    )


def datasource_options(transport=None, sobject: str = "Account", **extra) -> dict:
    """``spark.read.format("salesforce")`` options over a mock org
    (``make_transport()`` unless given)."""
    blob = base64.b64encode(pickle.dumps(transport or make_transport())).decode()
    return {"sobject": sobject, "transport_pickle": blob, **extra}
