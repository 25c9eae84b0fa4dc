"""S2 extractor model: describe()→schema/DDL, queryMore pagination."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from salesforce_postgresql_etl_spark.sources.salesforce import (
    extract_pages,
    pg_ddl_from_describe,
    schema_from_describe,
)

FIELDS = [
    {"name": "Id", "type": "id", "nillable": False},
    {"name": "Name", "type": "string"},
    {"name": "Amount", "type": "currency"},
    {"name": "IsWon", "type": "boolean"},
    {"name": "CloseDate", "type": "date"},
    {"name": "Tags__c", "type": "multipicklist"},
    {"name": "Mystery__c", "type": "weirdtype"},  # unknown → string
]


def test_schema_mapping():
    s = schema_from_describe(FIELDS)
    by_name = {f.name: f for f in s.fields}
    assert isinstance(by_name["Id"].dataType, T.StringType)
    assert not by_name["Id"].nullable
    assert by_name["Amount"].dataType == T.DecimalType(18, 2)
    assert isinstance(by_name["Tags__c"].dataType, T.ArrayType)
    assert isinstance(by_name["Mystery__c"].dataType, T.StringType)


def test_pg_ddl():
    ddl = pg_ddl_from_describe(
        "Opportunity", FIELDS + [{"name": "NumberOfEmployees", "type": "int"}]
    )
    assert '"id" varchar(18) NOT NULL' in ddl
    # Spark reads SF int as LongType, so the column must hold 64 bits
    assert '"numberofemployees" bigint' in ddl
    assert '"amount" numeric(18,2)' in ddl
    assert 'PRIMARY KEY ("id")' in ddl


def _fake_endpoint(n_pages: int, page_size: int):
    def fetch(cursor):
        page = 0 if cursor is None else int(cursor)
        recs = [
            {
                "Id": f"006{page:03d}{i:012d}",
                "Name": f"opp-{page}-{i}",
                "Amount": None,
                "IsWon": (i % 2 == 0),
                "CloseDate": None,
                "Tags__c": ["a", "b"] if i % 3 == 0 else [],
                "Mystery__c": None,
            }
            for i in range(page_size)
        ]
        nxt = str(page + 1) if page + 1 < n_pages else None
        return recs, nxt

    return fetch


def test_extract_pagination(spark):
    df = extract_pages(spark, FIELDS, _fake_endpoint(n_pages=4, page_size=25))
    assert df.count() == 100
    assert df.select("Id").distinct().count() == 100
    assert df.schema == schema_from_describe(FIELDS)


def test_extract_runaway_pagination_guard(spark):
    def never_ending(cursor):
        return [{"Id": "x"}], "again"

    with pytest.raises(RuntimeError, match="pagination did not terminate"):
        extract_pages(spark, FIELDS[:1], never_ending, max_pages=5)


def test_extract_empty(spark):
    df = extract_pages(spark, FIELDS, lambda c: ([], None))
    assert df.count() == 0
    assert len(df.schema.fields) == len(FIELDS)
